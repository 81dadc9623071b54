"""Plan-quality audit: asserts the physical-plan properties PLANS.md
documents, so a regression (lost pushdown, surprise sort-merge join,
accidental cartesian product) fails loudly.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    # query -> list of (predicate_name, fn(plan_text) -> bool)
    "scan_project_filter": [
        ("filters pushed to parquet", lambda p: "PushedFilters: [" in p and "EqualTo(l_returnflag,R)" in p),
        ("column-pruned read schema", lambda p: "ReadSchema" in p and "l_quantity" not in p.split("ReadSchema")[1].splitlines()[0]),
    ],
    "dim_join_enrich": [
        ("all dim joins broadcast", lambda p: p.count("BroadcastHashJoin") >= 2 and "SortMergeJoin" not in p),
    ],
    "reconcile_matched": [
        ("broadcast probe, no SMJ", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ],
    "daily_pnl_rollup": [
        ("partial aggregation present", lambda p: p.count("HashAggregate") >= 4),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
    ],
    "sort_limit_topk": [
        ("top-k, not global sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "window_rank_topk": [
        ("single shuffle on partition key", lambda p: "CartesianProduct" not in p),
    ],
    "dedup_exact": [
        ("no raw-text shuffle key", lambda p: "sha2" in p or "Exchange hashpartitioning(_h" in p),
    ],
    # The headline similarity routes must stay scale-safe: candidate
    # generation via equi-join, never a nested-loop over the corpus.
    "similarity_topk_lsh": [
        ("no nested-loop scoring", lambda p: "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    "similarity_topk_ivf": [
        ("no nested-loop scoring", lambda p: "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    # corpus-hygiene ops: the per-row projections must stay shuffle-free
    "text_normalize": [
        ("zero shuffles", lambda p: "Exchange" not in p),
        ("NFC via Arrow batch, not row-at-a-time", lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p),
    ],
    "text_pii_mask": [
        ("zero shuffles", lambda p: "Exchange" not in p),
    ],
    "text_repetition": [
        ("zero shuffles (run-length fold, no explode)", lambda p: "Exchange" not in p and "Generate" not in p),
    ],
    "decontaminate_ngrams": [
        ("benchmark side broadcast, no SMJ", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ],
    "doc_pack_chunks": [
        ("one shard shuffle, no global sort", lambda p: p.count("hashpartitioning") == 1 and "rangepartitioning" not in p),
    ],
    "similarity_topk_pandas": [
        ("Arrow scoring, no nested loop", lambda p: "MapInPandas" in p and "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    "dedup_clusters": [
        ("no cartesian; lineage truncated to checkpoint", lambda p: "CartesianProduct" not in p and "Scan ExistingRDD" in p),
    ],
    "events_funnel": [
        ("one groupBy, no joins", lambda p: "Join" not in p and p.count("hashpartitioning") == 1),
    ],
    "events_cohort_retention": [
        ("no cartesian, aggregate-only joins", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "text_top_terms": [
        ("top-k via window, no global sort", lambda p: "rangepartitioning" not in p and "CartesianProduct" not in p),
    ],
    # the hot key must be sharded: join key includes the salt column and
    # the dimension side is replicated via explode (Generate)
    "join_skewed_salted": [
        ("join keys include salt", lambda p: "_salt" in p),
        ("dim replicated by explode, no nested loop", lambda p: "Generate" in p and "explode(" in p and "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    # round-3 training-pipeline wave
    "dedup_containment": [
        ("verify from checkpointed candidates, no cartesian", lambda p: "Scan ExistingRDD" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "embedding_quantize_sq8": [
        ("stats broadcast back, encode is scan-side", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p and "CartesianProduct" not in p),
    ],
    "sample_per_source_topk": [
        ("one window shuffle, no global sort", lambda p: p.count("hashpartitioning") == 1 and "rangepartitioning" not in p),
    ],
    "sample_mixture_rebalance": [
        ("rates broadcast, corpus scanned once", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ],
    "events_interarrival": [
        ("user-keyed exchanges only, no range sort", lambda p: "rangepartitioning" not in p and "CartesianProduct" not in p),
    ],
    "q4_priority_returns": [
        ("EXISTS as semi join, orders never multiplied", lambda p: "LeftSemi" in p and "CartesianProduct" not in p),
    ],
    "events_trailing_7d": [
        ("user-keyed window, no global sort", lambda p: "rangepartitioning" not in p and "CartesianProduct" not in p),
    ],
    "agg_winsorized_revenue": [
        ("bounds broadcast back, no SMJ", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ],
    "q19_bracketed_revenue": [
        ("part dim broadcast under OR-of-ANDs", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ],
    # round-3 decorrelation wave
    "q7_volume_shipping": [
        ("all four dims broadcast, nation filter pre-join", lambda p: p.count("BroadcastHashJoin") >= 4 and "CartesianProduct" not in p),
    ],
    "q8_market_share": [
        ("six-dim star all broadcast", lambda p: p.count("BroadcastHashJoin") >= 5 and "SortMergeJoin" not in p.split("orders")[0] and "CartesianProduct" not in p),
    ],
    "q9_product_profit": [
        ("part filter broadcast, no cartesian", lambda p: p.count("BroadcastHashJoin") >= 3 and "CartesianProduct" not in p),
    ],
    "q13_order_count_distribution": [
        ("two-level aggregation, no cartesian", lambda p: p.count("HashAggregate") >= 4 and "CartesianProduct" not in p),
    ],
    "q15_top_supplier": [
        ("max decorrelated to broadcast, no window sort", lambda p: "BroadcastHashJoin" in p and "Window" not in p and "rangepartitioning" not in p),
    ],
    "q17_small_qty_revenue": [
        ("per-part stats broadcast back, no window", lambda p: "BroadcastHashJoin" in p and "Window" not in p and "CartesianProduct" not in p),
    ],
    "q22_dormant_customers": [
        ("NOT EXISTS as anti join", lambda p: "LeftAnti" in p and "CartesianProduct" not in p),
    ],
    "merge_cdc_snapshot": [
        ("latest-wins via aggregate, not window sort", lambda p: "Window" not in p and "rangepartitioning" not in p),
        ("map-side partial collapse", lambda p: p.count("HashAggregate") >= 4),
    ],
    "window_equidepth_bins": [
        ("flag-keyed sort only, no global range sort", lambda p: "rangepartitioning" not in p and "CartesianProduct" not in p),
    ],
    # the SymSpell join must stay linear: variant explode + equi-join,
    # never the quadratic cross form the oracle uses
    "fuzzy_name_match": [
        ("deletion-variant equi-join, no quadratic pair join", lambda p: "Generate" in p and "explode(" in p and "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    # both windows share the user_id partitioning: one user exchange +
    # one final channel aggregation, attribution travels as a column
    "events_first_touch_attribution": [
        ("no join, user-keyed windows only", lambda p: "Join" not in p and "rangepartitioning" not in p and p.count("hashpartitioning") <= 2),
    ],
    "unpivot_measures": [
        ("melt as Expand projection, no shuffle before agg", lambda p: "Expand" in p and "Generate" not in p and "CartesianProduct" not in p),
    ],
    # the global window must run over the 25-row aggregate, never the
    # fact table: SinglePartition exchange fed by the final agg
    "window_share_of_total": [
        ("ratio window over aggregate only", lambda p: "SinglePartition" in p and "rangepartitioning" not in p and "CartesianProduct" not in p),
    ],
    "events_top_paths": [
        ("top-k paths, no global sort, no join", lambda p: "TakeOrderedAndProject" in p and "Join" not in p),
    ],
    # every column's metrics from ONE scan — per-column passes would
    # show as multiple parquet scans
    "profile_orders": [
        # formatted output names each scan twice (tree node + detail
        # section), so one physical scan == 2 occurrences
        ("single scan for all columns", lambda p: p.count("Scan parquet") <= 2),
    ],
    "basket_part_pairs": [
        ("order-keyed equi-join, top-k", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "TakeOrderedAndProject" in p),
    ],
    # PQ encode must be a pure scan projection: centroids are inlined
    # literals, so no shuffle and no Python evaluator anywhere
    "embedding_pq_codes": [
        ("zero-shuffle inlined-codebook encode", lambda p: "Exchange" not in p and "EvalPython" not in p),
    ],
    # ADC search: cell equi-join + code lookups — raw corpus vectors
    # must never reach the scoring join
    "similarity_topk_ivfpq": [
        ("code-only scoring, no nested loop", lambda p: "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p and "EvalPython" not in p),
    ],
    "snapshot_diff_summary": [
        ("one key-equi full-outer join", lambda p: "FullOuter" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # round-4 wave
    "q12_shipmode_priority": [
        ("ship-year filter pushed to lineitem scan", lambda p: "PushedFilters: [" in p and "IsNotNull(l_shipdate)" in p),
        ("fact-fact equi-join, no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # the decorrelated Q21: join -> groupBy -> join-back must stay on
    # ONE orderkey hash partitioning (plus the tiny broadcast dims)
    "q21_suppliers_kept_waiting": [
        ("EXISTS pair decorrelated, no correlated re-scan", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("supplier/nation side broadcast", lambda p: "BroadcastHashJoin" in p),
    ],
    # split bucket hashes the CLUSTER id on the checkpointed cluster
    # frame: no extra shuffle beyond the substrate build
    "split_leakage_safe": [
        ("projection over checkpointed clusters", lambda p: "Scan ExistingRDD" in p and "Exchange" not in p),
    ],
    # BM25: tf/dl as array projections (no explode, no (doc,term)
    # shuffle), idf inlined (no join for constants), top-k TakeOrdered
    "text_bm25_topk": [
        ("no explode, no term shuffle", lambda p: "Generate" not in p and "hashpartitioning" not in p),
        ("top-k not global sort", lambda p: "TakeOrderedAndProject" in p and "rangepartitioning" not in p),
        ("no Python in scoring", lambda p: "EvalPython" not in p),
    ],
    "text_gopher_rules": [
        ("zero-shuffle rule pack", lambda p: "Exchange" not in p and "EvalPython" not in p),
    ],
    "events_daily_anomalies": [
        ("rollup then type-keyed RANGE window, no global sort", lambda p: "rangepartitioning" not in p and "CartesianProduct" not in p),
    ],
    # explicit pivot values: one conditional aggregation, and no extra
    # distinct-scan job to discover columns (2 scan mentions = 1 scan)
    "events_pivot_daily": [
        ("one scan, no value-discovery pass", lambda p: p.count("Scan parquet") <= 2),
        ("single shuffle", lambda p: p.count("hashpartitioning") == 1),
    ],
    # cumulative distinct via first-seen agg + tiny running sum — the
    # window must run on a SinglePartition of the ~30-row rollup
    "events_user_accumulation": [
        ("running sum over rollup only", lambda p: "SinglePartition" in p and "rangepartitioning" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "set_customer_segments": [
        ("EXCEPT/INTERSECT as anti/semi hash joins", lambda p: "LeftAnti" in p and "LeftSemi" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # refine stage: ADC shortlist broadcast back for the float fetch —
    # the corpus float table must never be nested-loop scanned
    "similarity_topk_ivfpq_rerank": [
        ("shortlist-bounded float fetch, no nested loop", lambda p: "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    "multimodal_video_meta": [
        ("Arrow-batched parse, no shuffle of media bytes", lambda p: "MapInPandas" in p and "Exchange" not in p),
    ],
    # negative-sampling / rolling-distinct / skew-diag wave (X46-X48)
    "sample_negative_pairs": [
        ("hash-computed negatives equi-join the corpus, no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "events_trailing_7d_distinct": [
        ("window fan-out is an explode projection + semi join, not a range NLJ", lambda p: "Generate" in p and "LeftSemi" in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "diag_key_skew": [
        ("per-key histogram materialized; census reads the checkpoint", lambda p: "Scan ExistingRDD" in p and "Join" not in p),
    ],
    "events_trailing_7d_distinct_approx": [
        ("sketches fan out via explode, unioned per window - no range NLJ", lambda p: "Generate" in p and "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    "pipeline_training_corpus": [
        ("rides the checkpointed cluster substrate", lambda p: "Scan ExistingRDD" in p),
        ("census join + 3-row agg, no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "text_hashing_features": [
        ("hashing trick is vocabulary-free: no join anywhere", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "diag_join_size_estimate": [
        ("estimate touches only 2dw counters, never a data-row join", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "nested_invoice_stats": [
        ("higher-order folds in-row: no explode after assembly", lambda p: "Generate" not in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "text_retrieve_rerank": [
        ("stage-2 rerank is shortlist-bounded: candidates broadcast back", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "agg_value_variance_exact": [
        ("sufficient statistics in one map-side-combinable pass", lambda p: "Join" not in p and "Exchange" in p),
    ],
    "agg_kmv_distinct": [
        ("bottom-k over the distinct-hash frame, no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "text_posting_lists": [
        ("one distinct projection + one term agg", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "replica_bucket_diff": [
        ("only 256 checksums join, never rows", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "join_asof_tolerance": [
        ("tolerance costs no extra shuffle over the asof window", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "Join" not in p),
    ],
    "events_session_window": [
        ("native session window, single user-keyed exchange", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    # r9: the skyline's running max is the decomposed exclusive
    # prefix max — price-band windows, zero single-partition exchanges
    "part_pareto_frontier": [
        ("prefix max band-partitioned, not global", lambda p: "hashpartitioning(_band" in p and "SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "events_changepoint": [
        ("argmax via max_by aggregate, type-partitioned prefix window", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "events_daily_trend": [
        ("exact OLS from two hash aggregates, no window/join/collect", lambda p: "Join" not in p and "Window" not in p and "CartesianProduct" not in p),
    ],
    "basket_brand_triples": [
        ("Apriori: order-keyed equi-joins only, candidate set broadcast", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "layout_shard_moves": [
        ("ring lookup is in-row array algebra: one scan, no join", lambda p: "Join" not in p and "Exchange" in p and "CartesianProduct" not in p),
    ],
    "dedup_prefix_filter_pairs": [
        ("prefix postings join is an equi-join, never cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "dedup_lsh_quality": [
        ("verdict via tagged union + conditional sums, no 1-row cross join", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r9: the running sum is the decomposed prefix sum — band
    # windows only; the 1-row total merge is the lone SinglePartition
    "part_abc_classification": [
        ("prefix sum band-partitioned, not global", lambda p: "hashpartitioning(_band" in p),
        ("only the 1-row total merges single-partition", lambda p: p.count("SinglePartition") <= 1),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "graph_bfs_depth": [
        ("frontier semi/anti joins, lineage truncated per round", lambda p: "CartesianProduct" not in p and "Scan ExistingRDD" in p),
    ],
    # r9: X93 — the three quartiles are band-decomposed ranks
    # (rankdist.global_rank_decomposed2); every window partitions on
    # the (band, sub) keys and NO single-partition exchange remains
    # (the 1-row total merge sits behind the materialize cut)
    # r10: the three quartiles fused into ONE group_cols=['_tag']
    # rank pass over the tagged union
    "orders_rfm_segments": [
        ("fused quartiles (tag, band)-partitioned, not global", lambda p: "hashpartitioning(_tag" in p),
        ("zero single-partition exchanges", lambda p: "SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "window_interval_coalesce": [
        ("one supplier-keyed exchange; sweep windows partitioned, no join", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "events_clamped_balance": [
        ("one user-keyed aggregate; fold is in-row, no window/join", lambda p: "Join" not in p and "Window" not in p and "CartesianProduct" not in p),
    ],
    "events_bounce_rate": [
        ("user-partitioned session window + day aggregate, no join", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "agg_mad_outliers": [
        ("median frames broadcast back; no cartesian/NLJ", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "BroadcastHashJoin" in p),
    ],
    "events_decayed_type_scores": [
        ("decay is a scan projection + one aggregate, no join/window", lambda p: "Join" not in p and "Window" not in p and "CartesianProduct" not in p),
    ],
    "basket_brand_rules": [
        ("basket self-join order-keyed; support dims broadcast", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "BroadcastHashJoin" in p),
    ],
    "layout_zonemap_prune": [
        ("analytic chunking: groupBy only, no window, no global sort", lambda p: "Window" not in p and "Join" not in p and "CartesianProduct" not in p),
    ],
    "text_bpe_merges": [
        # the returned frame is the collected merge table (driver
        # rules are plan parameters, the IVF-centroid pattern); the
        # distributed work is audited via its operator tests
        ("merge table is a local result, no residual join", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "graph_label_propagation": [
        ("per-round equi-join + count + max_by, lineage truncated", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "Scan ExistingRDD" in p),
    ],
    "events_user_diversity": [
        ("two user-keyed hash aggregates, no window/join", lambda p: "Join" not in p and "Window" not in p and "CartesianProduct" not in p),
    ],
    # r9: the name rank is band-decomposed (string-prefix bands); the
    # only BNLJ is the broadcast band-histogram inequality join inside
    # the decomposition (tiny × tiny by construction)
    "fuzzy_sorted_neighborhood": [
        ("name rank band-partitioned; probe join is equi on rank", lambda p: "hashpartitioning(_band" in p and "SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    "diag_data_contract": [
        ("all rules from ONE conditional-sum scan", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "join_point_in_time": [
        ("PIT via union-sort-window asof, no range join", lambda p: "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    # r9: X71 — global row_number replaced by the band-decomposed rank
    "agg_revenue_concentration": [
        ("rank over the materialized post-aggregate frame", lambda p: "Scan ExistingRDD" in p),
        ("rank windows band-partitioned, not global", lambda p: "hashpartitioning(_band" in p),
        ("only the 1-row final aggregate merges single-partition", lambda p: p.count("SinglePartition") <= 1),
    ],
    "events_stickiness": [
        ("WAU fan-out via explode + semi join, not a range NLJ", lambda p: "Generate" in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "diag_referential_integrity": [
        ("single tall union, one aggregate, no driver collects", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "Union" in p),
    ],
    "events_position_attribution": [
        ("one user window + channel rollup, buyers broadcast", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ],
    "text_top_terms_per_doc": [
        ("df broadcast to the tf side, one per-doc window", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ],
    "merge_scd2_history": [
        ("history intervals from one key window, no join", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "graph_kcore": [
        ("peeling rounds read the per-round checkpoint", lambda p: "Scan ExistingRDD" in p),
        ("peel is count + semi joins, no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "graph_pagerank": [
        ("iterative rounds read the per-round checkpoint", lambda p: "Scan ExistingRDD" in p),
        ("rank propagation is a hash equi-join", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # runtime-filter / layout / novelty wave (X43-X45)
    "join_bloom_pruned": [
        ("bloom membership test pushed into the probe side", lambda p: "getbit" in p),
        ("exact semi join after the prefilter", lambda p: "LeftSemi" in p and "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p),
    ],
    "layout_zorder_stats": [
        ("z-encode is a scan projection: one agg exchange, no join", lambda p: "Join" not in p and p.count("Exchange") <= 4),
    ],
    "text_bigram_novelty": [
        ("vocab broadcast; bodies never shuffle", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ],
    # graph and stream sketches (plans/graph_ops.py, plans/event_ops.py)
    "graph_triangle_counts": [
        ("oriented wedge joins are hash equi-joins", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "events_max_concurrency": [
        ("within-day running sum is day-partitioned", lambda p: "hashpartitioning(day" in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "events_heavy_hitters_cms": [
        ("bounded sketch broadcast for the estimate join", lambda p: "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # TPC-H completion: q2/q11/q16/q20 (plans/tpch_ops.py)
    "q2_min_cost_supplier": [
        ("offers materialized: min+argmin read the checkpoint", lambda p: "Scan ExistingRDD" in p),
        ("min+argmin equi-joins, dims broadcast", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "q11_important_stock": [
        ("per-part agg materialized: both branches read the checkpoint", lambda p: "Scan ExistingRDD" in p),
        ("total embedded as literal: no join, no NLJ in output branch", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    "q16_supplier_part_counts": [
        ("NOT IN lowered to broadcast anti join", lambda p: ("BroadcastHashJoin" in p and "LeftAnti" in p) and "BroadcastNestedLoopJoin" not in p),
    ],
    "q20_excess_stock_suppliers": [
        ("one conditional agg + semi join, no correlated re-scan", lambda p: "LeftSemi" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r6: the flagship ANN claims (VERDICT r5 stretch item 8) — the
    # refine stage must touch ONLY the shortlist: candidates broadcast
    # onto the float table, the corpus float column never shuffles
    "similarity_topk_ivfpq_rerank": [
        ("shortlist broadcasts onto the float table, no SMJ", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ("no cartesian / nested-loop scoring", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    "similarity_topk_ivfpq_dist": [
        ("query tables built executor-side via Arrow batch", lambda p: "MapInPandas" in p),
        ("no cartesian / nested-loop scoring", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # sequence patterns, TF-cosine pairs, boilerplate shingles, epoch
    # shuffle (plans/event_ops.py, plans/text_ops.py, plans/curation_ops.py)
    "events_seq_pairs": [
        ("pair support via sequence-keyed equi-join, no cartesian", lambda p: "CartesianProduct" not in p),
        ("total rides a 1-row broadcast, not a driver collect", lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
    ],
    "text_tf_cosine_pairs": [
        ("dot products via token equi-join, no all-pairs", lambda p: "CartesianProduct" not in p),
        ("norms broadcast back onto the pair frame", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ],
    "text_boilerplate_shingles": [
        ("boilerplate set broadcast; occurrences never re-shuffle on text", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ("shingles in-row (transform), not explode-then-window", lambda p: "CartesianProduct" not in p),
    ],
    "sample_epoch_shuffle": [
        ("rank decomposed: no single-partition window exchange", lambda p: "Exchange SinglePartition" not in p),
        ("offset table broadcast, no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r6: X101 SemDeDup — pairs must form only WITHIN a cluster (the
    # cell equi-join), never corpus-wide
    "dedup_semantic_clusters": [
        ("pair join keyed on the cell, no all-pairs", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r6: X102 — one source aggregate, totals windowed on the
    # dimension-sized result; the fact is scanned exactly once
    "sample_token_budget_plan": [
        ("single corpus scan, one aggregate exchange", lambda p: p.count("Location: InMemoryFileIndex") == 1 and p.count("hashpartitioning") == 1),
    ],
    # r6: X103 — star-alternation CC: the census reads the converged
    # per-round checkpoint; every step was a groupBy-min + equi-join
    "graph_cc_star": [
        ("census reads the converged checkpoint, no cartesian", lambda p: "Scan ExistingRDD" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r6: X104 — image dedup over fingerprints: decode is Arrow-batched
    # and pairs come from the banded groupBy, pixels never pair-join
    "multimodal_ahash_pairs": [
        ("Arrow decode, banded pairs, no all-pairs", lambda p: "MapInPandas" in p and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r6: X105 — near-dup decontamination rides the memoized verified-
    # pairs checkpoint; marginal cost is a predicate + projection
    "decontaminate_neardup": [
        ("reads the verified-pairs checkpoint, no re-derivation", lambda p: "Scan ExistingRDD" in p and "CartesianProduct" not in p),
    ],
    # r6: X106 — representative selection rides the clusters checkpoint;
    # one cluster-keyed ranking window on top
    "dedup_cluster_representatives": [
        ("reads the clusters checkpoint, cluster-keyed window", lambda p: "Scan ExistingRDD" in p and "rangepartitioning" not in p.split("Sort")[0] and "CartesianProduct" not in p),
    ],
    # r6: X107 — KS windows run over the distinct-length frame, the
    # fact contributes one aggregate; top-1 via TakeOrdered, no join
    "diag_ks_drift": [
        ("one fact aggregate, no joins, top-1 not global sort", lambda p: "Join" not in p and "TakeOrderedAndProject" in p),
    ],
    # r6: X108 — verdict merge: n-gram detector broadcasts, near-dup
    # side reads the verified-pairs checkpoint; no cartesian anywhere
    "decontaminate_report": [
        ("broadcast n-gram side + checkpointed near-dup side", lambda p: "BroadcastHashJoin" in p and "Scan ExistingRDD" in p and "CartesianProduct" not in p),
    ],
    # r6: X109 — score is a scan projection; no joins (the corpus-wide
    # NTILE is the documented exact form; the 100 TB swap is
    # approx_percentile cut points, see the docstring)
    "diag_quality_deciles": [
        ("scan-projected score, join-free census", lambda p: "Join" not in p and "CartesianProduct" not in p),
    ],
    # r7: X109b — the 100 TB lowering: the doc-grain ranking window is
    # score-band partitioned; the ONLY SinglePartition exchange left is
    # the 1-row grand-total aggregate merge (unavoidable, 1 row)
    "diag_quality_deciles_dist": [
        ("rank window is band-partitioned, not global", lambda p: "hashpartitioning(bucket" in p),
        ("only the 1-row total merges to a single partition", lambda p: p.count("SinglePartition") <= 1),
        ("histogram/offset/total frames broadcast, no cartesian", lambda p: "CartesianProduct" not in p and "SortMergeJoin" not in p),
    ],
    # r7: X119 — PIT fetch is an entity-keyed equi-join; the SCD2 window
    # is key-partitioned; never a range/nested-loop join
    "feature_pit_scd2": [
        ("PIT fetch equi-joins on the entity key", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r7: X120 — the vocab join must stay a shuffled equi-join (vocab is
    # NOT blind-broadcast at 100 TB); 1-row total rides broadcast
    "text_unigram_logprob": [
        ("token-keyed equi-join, no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r7: X121 — the sliding window is doc-partitioned, never global
    "text_winnow_fingerprints": [
        ("winnow window doc-partitioned, no single-partition exchange", lambda p: "Exchange SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r7: X122 — pair join keys on (band, bh) with source-bounded
    # fan-out; per-source totals broadcast
    "corpus_self_similarity": [
        ("bucket-keyed pair join, no all-pairs", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("per-source totals broadcast", lambda p: "BroadcastHashJoin" in p),
    ],
    # r7: X123 — dimension totals broadcast onto the cell frame
    "split_balance_report": [
        ("totals broadcast, no cartesian", lambda p: "CartesianProduct" not in p and "BroadcastHashJoin" in p),
    ],
    # r7: X124 — vocab rank band-decomposed like X109b; only the 1-row
    # OLS-sums merge is single-partition
    "text_zipf_slope": [
        ("rank window is band-partitioned", lambda p: "hashpartitioning(bucket" in p),
        ("only the 1-row sums merge to a single partition", lambda p: p.count("SinglePartition") <= 1),
    ],
    # r7: X125 — one fact-sized aggregate; all pair/norm joins are over
    # the labels x dims frame and broadcast
    "embedding_label_centroid_sim": [
        ("centroid pair joins broadcast, no cartesian", lambda p: "CartesianProduct" not in p and "SortMergeJoin" not in p),
    ],
    # r7: X126 — cumulative window partitioned by source, never global
    "sample_curriculum_order": [
        ("cumulative schedule source-partitioned", lambda p: "Exchange SinglePartition" not in p),
    ],
    # r7: X127 — interval overlap via bucketed equi-join + claim-bucket
    # dedup: no nested loop, no distinct pass over the pair output
    "join_interval_overlap": [
        ("bucketed equi-join, never a nested loop", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("claim-bucket rule, no dedup exchange on pairs", lambda p: "HashAggregate" in p),
    ],
    # r7: X128 — funnel report rides the memoized pipeline subtree
    "pipeline_curation_report": [
        ("funnel shaped from a bounded driver frame", lambda p: "Scan ExistingRDD" in p or "LocalTableScan" in p),
    ],
    # r7: X129 — shortlist broadcast onto labels; vote window is
    # probe-partitioned; marginal joins dimension-sized
    "label_noise_kappa": [
        ("no all-pairs scoring", lambda p: "CartesianProduct" not in p),
    ],
    # r7: X130 — top-V via TakeOrdered, never a global rank window
    "tokenizer_oov_census": [
        ("top-V selection is TakeOrdered", lambda p: "TakeOrderedAndProject" in p),
        ("vocabulary broadcast onto the source aggregate", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ],
    # r7: X131 — pure aggregates; the entropy fold is in-row
    "text_char_entropy": [
        ("join-free aggregate chain", lambda p: "Join" not in p and "Exchange SinglePartition" not in p),
    ],
    # r7: X132 — both shortlists are bounded frames; the census join
    # is a broadcast, never a corpus-grain shuffle
    "similarity_ivfpq_recall": [
        ("shortlist census broadcast, no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r7: X133 — segmentation window doc-partitioned; top-20 via
    # TakeOrdered, never a global rank window
    "text_rake_keywords": [
        ("top-k via TakeOrdered", lambda p: "TakeOrderedAndProject" in p),
        ("doc-partitioned segmentation, no single-partition window", lambda p: "Exchange SinglePartition" not in p),
    ],
    # r7: X134 — closed-form chunk math: scan projection + aggregate
    "doc_chunk_overlap_census": [
        ("no explode, no joins — closed-form census", lambda p: "Join" not in p and "Generate" not in p),
    ],
    # r7: X135 — Arrow decode projection; bytes never shuffle
    "multimodal_audio_vad": [
        ("decode is an Arrow mapInPandas projection", lambda p: "MapInPandas" in p),
        ("no joins on the byte grain", lambda p: "Join" not in p),
    ],
    # r7: X136 — radius search candidates from the cell equi-join
    "similarity_range_search": [
        ("cell equi-join candidates, no all-pairs", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r7: X137 — candidates unpivot in-row; ONE fact scan feeds all
    "layout_partition_advisor": [
        ("single fact scan for every candidate column", lambda p: p.count("Location: InMemoryFileIndex") == 1),
        ("no joins", lambda p: "Join" not in p),
    ],
    # r7: X138 — declared totals broadcast onto the confusion cells
    "diag_langid_confusion": [
        ("totals broadcast, no cartesian", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ],
    # r7: X139 — r10: both halves ride ONE group_cols=['_half'] rank
    # pass (one window exchange, one histogram family); the old
    # full-outer half-join collapsed into a customer-grain pivot
    "orders_rfm_migration": [
        ("no cartesian", lambda p: "CartesianProduct" not in p),
        ("quartile windows (half, band)-partitioned, not global", lambda p: "hashpartitioning(_half" in p),
        ("zero single-partition exchanges anywhere", lambda p: "SinglePartition" not in p),
    ],
    # r9: X146 — spans shuffle as 8-byte hashes; the interval sweep
    # windows are doc-partitioned; the kept-text rebuild is in-row
    # (no corpus explode past the span substrate)
    "text_span_dedup_emit": [
        ("span dedup keyed on the 8-byte hash", lambda p: "hashpartitioning(h" in p),
        ("interval sweep doc-partitioned, zero single-partition exchanges", lambda p: "hashpartitioning(doc_id" in p and "SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r9: X150 — benchmark trigrams broadcast; islands window is
    # doc-partitioned; no global exchange
    "decontaminate_longest_run": [
        ("benchmark broadcast to the corpus side", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ("islands window doc-partitioned, no single partition", lambda p: "hashpartitioning(doc_id" in p and "SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r9: X149 — signatures join back doc-keyed; match count is in-row;
    # never a nested loop over the corpus
    "dedup_minhash_calibration": [
        ("candidate-bounded equi-joins only", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("rides the checkpointed candidate frame", lambda p: "Scan ExistingRDD" in p),
    ],
    # r9: X148 — the LTV running sum is cohort-partitioned over the
    # calendar-bounded triangle; cohort sizes broadcast back
    # r10: X151 — > ALL decorrelated to customer-grain MAX + left join;
    # probe month pushed to the scan; no single-partition anywhere
    "corr_all_quantified": [
        ("probe-month predicate pushed to parquet", lambda p: "PushedFilters: [" in p),
        ("aggregate join customer-partitioned, no cartesian/nested-loop", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("no single-partition exchange", lambda p: "SinglePartition" not in p),
    ],
    # r10: X152 — NOT IN lowered to anti-join + 1-row null guards; the
    # only SinglePartition exchanges are the two 1-row scalar merges,
    # and the only nested-loop join is the 1-row x 1-row cross
    "corr_not_in_null_trap": [
        ("anti-join lowering", lambda p: "LeftAnti" in p),
        ("no cartesian product", lambda p: "CartesianProduct" not in p),
        ("only the two 1-row scalar merges single-partition", lambda p: p.count("SinglePartition") <= 2),
    ],
    # r10: X153 — the twice-used correlated scalar rides ONE
    # customer-partitioned window; the follow-up groupBy reuses the
    # partitioning (no join, no second exchange, no single partition)
    "corr_scalar_select_twice": [
        ("single window pass, no joins at all", lambda p: "Join" not in p),
        ("customer-partitioned window", lambda p: "hashpartitioning(o_custkey" in p),
        ("no single-partition exchange", lambda p: "SinglePartition" not in p),
    ],
    # r10: X154 — inner scalar decorrelated to a part-grain aggregate
    # co-partitioned with the probe; candidates broadcast-semi onto
    # supplier; month predicate pushed
    "corr_nested_exists_scalar": [
        ("part-key co-partitioned aggregate join", lambda p: "hashpartitioning(l_partkey" in p),
        ("semi-join onto supplier", lambda p: "LeftSemi" in p),
        ("month predicate pushed to parquet", lambda p: "PushedFilters: [" in p),
        ("no cartesian/nested-loop, no single partition", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "SinglePartition" not in p),
    ],
    # r10: X157 — norm augmentation adds one dim and zero shuffles;
    # the guarded exact form broadcasts the 20-query side
    "similarity_topk_mips": [
        ("query side broadcast, corpus never shuffles before scoring", lambda p: "BroadcastNestedLoopJoin" in p and "SortMergeJoin" not in p),
        ("top-k window query-partitioned; only the 1-row M^2 merges single-partition", lambda p: "hashpartitioning(query_id" in p and p.count("SinglePartition") <= 2),
    ],
    # r11: X161 — encode rides the vocabulary frame (in-row folds);
    # the corpus-sized stage is one explode + broadcast join + agg
    "text_bpe_encode": [
        ("encoded vocab broadcast onto the token stream", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ("no cartesian, no single partition", lambda p: "CartesianProduct" not in p and "SinglePartition" not in p),
    ],
    # r11: X163 — census/weights/quotas are source-cardinality and
    # materialized once; the pick is ONE source-partitioned window;
    # every join broadcasts
    "sample_temperature_mix": [
        ("one source-partitioned window, no global sort", lambda p: p.count("hashpartitioning(source") == 1 and "rangepartitioning" not in p.split("Sort ")[0]),
        ("quota/report joins broadcast, quotas checkpointed", lambda p: "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p and "Scan ExistingRDD" in p),
        ("no cartesian, no single partition", lambda p: "CartesianProduct" not in p and "SinglePartition" not in p),
    ],
    # r11: X162 — guard-caged brute-force census (the exactness
    # instrument): NLJ scoring expected; the per-width membership
    # compares and the 1-row total must stay broadcast
    "similarity_truncation_recall": [
        ("semi-joins broadcast, never SMJ", lambda p: "SortMergeJoin" not in p),
        ("only the 1-row total merges single-partition", lambda p: p.count("SinglePartition") <= 1 and "CartesianProduct" not in p),
    ],
    # r11: X158 — correlated argmin decorrelated to one offers
    # aggregate + a partkey-partitioned window MIN; dims broadcast
    "corr_argmin_multiway": [
        ("part filter pushed to parquet", lambda p: "EqualTo(p_type,LARGE)" in p and "In(p_size" in p),
        ("dims broadcast, no SMJ", lambda p: p.count("BroadcastHashJoin") >= 4 and "SortMergeJoin" not in p),
        ("window partkey-partitioned, no single partition", lambda p: "hashpartitioning(l_partkey" in p and "SinglePartition" not in p),
        ("no cartesian/nested-loop", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
    ],
    # r11: X159 — the twice-referenced global scalar is a driver
    # literal over the materialized 25-row aggregate; the output
    # branch is a pure filter/project over the checkpoint
    "corr_having_global_share": [
        ("output branch reads the checkpoint", lambda p: "Scan ExistingRDD" in p),
        ("no joins, no single-partition exchange", lambda p: "Join" not in p and "SinglePartition" not in p),
    ],
    # r11: X160 — NOT IN lowered to broadcast anti-join; 1996 window
    # pushed to the orders scan as timestamp bounds; two-stage
    # count-distinct collapses (group, custkey) pairs map-side
    "corr_notin_countdistinct": [
        ("year window pushed to parquet", lambda p: "GreaterThanOrEqual(o_orderdate,1996-01-01" in p),
        ("anti-join lowering, all broadcast", lambda p: "LeftAnti" in p and "SortMergeJoin" not in p),
        ("two-stage distinct, no single partition", lambda p: "hashpartitioning(c_mktsegment" in p and "SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r10: X156 — benchmark trigrams broadcast; islands + interval
    # sweep doc-partitioned; rebuild in-row; nothing global
    "decontaminate_span_emit": [
        ("benchmark broadcast to the training side", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ("doc-partitioned islands/sweep, zero single-partition exchanges", lambda p: "hashpartitioning(doc_id" in p and "SinglePartition" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r10: X155 — the returned census derives ENTIRELY from the
    # written artifact (one scan of the published shards; the
    # partition column comes back from directory names)
    "pipeline_corpus_publish": [
        ("census reads exactly one artifact scan", lambda p: p.count("Location: InMemoryFileIndex") == 1 and "corpus_publish" in p),
        ("no cartesian, no single-partition exchange", lambda p: "CartesianProduct" not in p and "SinglePartition" not in p),
    ],
    "orders_cohort_ltv": [
        ("cohort-partitioned running sum, no global window", lambda p: "hashpartitioning(cohort" in p and "SinglePartition" not in p),
        ("sizes broadcast, no cartesian", lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ],
    # r9: X147 — two chained Arrow stages over the media scan; video
    # bytes never shuffle (the only exchange is the presentation sort)
    "multimodal_frame_sample": [
        ("Arrow-batched frame chain, no byte shuffle", lambda p: p.count("MapInPandas") >= 2 and "hashpartitioning" not in p),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r7: X140 — 9-row census; the constant table is an in-row map and
    # the grand total windows over the census frame (one fact scan)
    "diag_benford_firstdigit": [
        ("one scan, map-literal expectations, no big join", lambda p: p.count("Location: InMemoryFileIndex") == 1 and "SortMergeJoin" not in p),
    ],
    # r7: X141 — one union-sort shuffle on the user key, both
    # directions filled in the same window pass, no range join
    "join_asof_nearest": [
        ("union-sort-window lowering, no range/nested-loop join", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("both direction fills share one window", lambda p: p.count("Window") <= 2),
    ],
    # r7: X142 — bounded report frame; the scan happened at build time
    "diag_functional_deps": [
        ("report shaped from a bounded driver frame", lambda p: "Scan ExistingRDD" in p or "LocalTableScan" in p),
    ],
    # r7: X144 — month-of-year-partitioned lag window, never global
    "orders_yoy_growth": [
        ("lag window partitioned by month", lambda p: "Exchange SinglePartition" not in p),
    ],
    # r7: X145 — token-keyed pair join with source-bounded fan-out;
    # totals + pair universe are source-dimension broadcasts
    "text_source_tvd_matrix": [
        ("token-keyed pair join, no corpus-grain cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r7: X143 — bigram-keyed equi-join; prefix counts derive from the
    # bigram VOCAB (never a third scan); the two corpus scans are the
    # doc-grain and vocab-grain branches of tf (X120's shape — Spark
    # has no cross-branch CSE; a checkpoint of the token-grain frame
    # would cost more than the re-scan)
    "text_bigram_surprisal": [
        ("two branch scans, no third for the prefix", lambda p: p.count("Location: InMemoryFileIndex") <= 2),
        ("no cartesian", lambda p: "CartesianProduct" not in p),
    ],
    # r12: X164 — per-width IVF search over truncated vectors; the
    # ground-truth pass is the 20-query guard-caged brute force (BNLJ
    # expected there, as in X162); everything index-side must stay
    # equi-join and only the 1-row total may merge single-partition
    "similarity_truncation_recall_ivf": [
        ("index candidates via equi-join, never SMJ", lambda p: "SortMergeJoin" not in p),
        ("only the 1-row total merges single-partition", lambda p: p.count("SinglePartition") <= 1 and "CartesianProduct" not in p),
        ("no Python evaluator", lambda p: "EvalPython" not in p),
    ],
    # r12: X165 — two zero-shuffle assignment projections + 16-cell
    # aggregates; the only nested-loops are the two 1-row broadcast
    # totals, the only single-partition merges their 1-row aggs
    "similarity_ivf_drift_census": [
        ("assignment never joins (inlined literals)", lambda p: "SortMergeJoin" not in p and "CartesianProduct" not in p),
        ("only the two 1-row totals merge single-partition", lambda p: p.count("SinglePartition") <= 2),
        ("no Python evaluator", lambda p: "EvalPython" not in p),
    ],
    # r12: X166 — residual ADC search: candidates from ONE cell
    # equi-join over the checkpointed code index; corpus float vectors
    # never reach the scoring join
    "similarity_topk_ivfpq_residual": [
        ("code-only scoring, no nested loop", lambda p: "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p and "EvalPython" not in p),
        ("searches the checkpointed code index", lambda p: "Scan ExistingRDD" in p),
        ("no SMJ, no single partition", lambda p: "SortMergeJoin" not in p and "SinglePartition" not in p),
    ],
    # r12: X167 — both geometries ride inlined-literal argmax
    # projections; the 16-row join-backs broadcast; nothing global
    "similarity_ivf_retrain_delta": [
        ("census join-backs broadcast", lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ("no cartesian/nested-loop/single-partition", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p and "SinglePartition" not in p),
        ("no Python evaluator", lambda p: "EvalPython" not in p),
    ],
    # r12: X169 — per-geometry IVF search (equi-join candidates); the
    # truth pass is the 20-query guard-caged brute force as in X164;
    # only the 1-row total merges single-partition
    "similarity_ivf_retrain_recall": [
        ("index candidates via equi-join, never SMJ", lambda p: "SortMergeJoin" not in p),
        ("only the 1-row total merges single-partition", lambda p: p.count("SinglePartition") <= 1 and "CartesianProduct" not in p),
        ("no Python evaluator", lambda p: "EvalPython" not in p),
    ],
    # r12: X168 — ONE user-keyed shuffle + an in-row ordered fold; the
    # negated middle term never becomes a join or a second window
    "events_funnel_exclusion": [
        ("one user-keyed aggregation, no join anywhere", lambda p: "hashpartitioning(user_id" in p and "Join" not in p),
        ("no single partition, no Python evaluator", lambda p: "SinglePartition" not in p and "EvalPython" not in p),
    ],
    # r13: X170 — scoring is a zero-shuffle in-row fold against the
    # broadcast weight literal; the only shuffles are the ~source-count
    # census aggregate and its range sort
    "text_quality_classifier": [
        ("map-only scoring: no join of any kind", lambda p: "Join" not in p),
        ("the dot product is an in-row fold, never an explode", lambda p: "Generate" not in p),
        ("no Python evaluator, no single partition", lambda p: "EvalPython" not in p and "SinglePartition" not in p),
    ],
    # r13: X172 — same zero-shuffle scoring fold as X170 plus in-row
    # rule predicates; one corpus pass, one source-grain aggregate
    "text_quality_calibration": [
        ("one-pass confusion census: no join of any kind", lambda p: "Join" not in p),
        ("no explode, no Python evaluator, no single partition", lambda p: "Generate" not in p and "EvalPython" not in p and "SinglePartition" not in p),
        ("one corpus scan", lambda p: p.count("Location: InMemoryFileIndex") <= 1),
    ],
    # r13: X171 — the corpus side enters ONLY through the memoized
    # signature substrate (Scan ExistingRDD) and its band projection;
    # full-corpus text is never re-shingled — the only document-text
    # scans are the two candidate-restricted verify set branches
    "dedup_incremental_pairs": [
        ("corpus enters via the checkpointed sketch", lambda p: "Scan ExistingRDD" in p),
        ("no cartesian / nested loop", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("no Python evaluator, no single partition", lambda p: "EvalPython" not in p and "SinglePartition" not in p),
        # r15: the sets subtree is materialized once, so at most ONE
        # candidate-restricted text scan survives in the final plan
        ("text scans candidate-restricted: <= 1 verify branch", lambda p: p.count("Location: InMemoryFileIndex") <= 1),
        # r15: publish-path global sort removed (VERDICT r14 item 6
        # applied to the X171 sibling): no range shuffle at pair grain
        ("no global sort on the publish path", lambda p: "rangepartitioning" not in p),
    ],
    # r14: X174 — X171's shape with the corpus side off parquet; the
    # artifact-only claim on the candidate subtree is pinned
    # pre-checkpoint in tests/test_wave14.py (the final plan hides it
    # behind the verify checkpoint's Scan ExistingRDD)
    "dedup_catalog_persisted": [
        ("candidates enter via the checkpointed subtree", lambda p: "Scan ExistingRDD" in p),
        # r15: the publish path must not globally sort the fact-sized
        # pair output (the driver hash is order-insensitive; a global
        # Sort means a full range shuffle at 100 TB pair volume)
        ("no global sort on the publish path", lambda p: "Sort [" not in p or "rangepartitioning" not in p),
        ("no cartesian / nested loop", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p),
        ("no Python evaluator, no single partition", lambda p: "EvalPython" not in p and "SinglePartition" not in p),
        ("text scans candidate-restricted: <= 2 verify branches", lambda p: p.count("Location: InMemoryFileIndex") <= 2),
    ],
    # r15: X179 — the query reads back the PUBLISHED pairs artifact;
    # all loop mechanics (census, candidate join, verify, absorb) ran
    # at publish time, so the recurring plan must be one parquet scan
    "dedup_store_asof": [
        ("read-back is one artifact scan, no join", lambda p: "Join" not in p),
        ("exactly one file-index location", lambda p: p.count("Location: InMemoryFileIndex") == 1),
        ("no Python evaluator, no global sort", lambda p: "EvalPython" not in p and "rangepartitioning" not in p),
    ],
    # r15: X180 — the swap decision is one dimension-grain aggregate
    # over the X175 census shape: still no join, no explode, no UDF
    # (the final one-row agg is SinglePartition by nature, over ~20
    # source rows — not a fact-path collapse)
    "quality_swap_gate": [
        ("decision composes the census: no join of any kind", lambda p: "Join" not in p),
        ("scoring folds stay in-row: no explode", lambda p: "Generate" not in p),
        ("no Python evaluator", lambda p: "EvalPython" not in p),
        ("one corpus scan", lambda p: p.count("Location: InMemoryFileIndex") == 1),
    ],
    # r15: X181/X182 — both census a persisted sidecar artifact; the
    # maintenance mechanics (compaction / assignment) run at publish
    # time, so the recurring plan must be one artifact scan + census
    "dedup_catalog_compact": [
        ("census reads the compacted artifact only: no join", lambda p: "Join" not in p),
        ("one file-index location", lambda p: p.count("Location: InMemoryFileIndex") == 1),
        ("no Python evaluator", lambda p: "EvalPython" not in p),
    ],
    "similarity_index_absorb": [
        ("census reads the index sidecar only: no join", lambda p: "Join" not in p),
        ("one file-index location", lambda p: p.count("Location: InMemoryFileIndex") == 1),
        ("no Python evaluator, no explode", lambda p: "EvalPython" not in p and "Generate" not in p),
    ],
    # r15: X183 — tombstones must enter via a BROADCAST anti-join
    # (dimension-sized delete list; the sidecar never shuffles) and
    # the tombstone scan must prune to vec_id only
    "similarity_index_expire": [
        ("tombstones via broadcast anti-join", lambda p: "BroadcastHashJoin" in p and "LeftAnti" in p),
        ("no shuffle join, no cartesian", lambda p: "SortMergeJoin" not in p and "CartesianProduct" not in p),
        ("tombstone scan reads only vec_id", lambda p: "ReadSchema: struct<vec_id:bigint>" in p),
        ("no Python evaluator", lambda p: "EvalPython" not in p),
    ],
    # r14: X175 — X170's zero-shuffle scoring fold, doubled: both
    # weight vectors are broadcast literals over ONE projected token
    # array; nothing joins, nothing explodes
    "text_quality_drift": [
        ("map-only two-model scoring: no join of any kind", lambda p: "Join" not in p),
        ("the two dot products are in-row folds, never an explode", lambda p: "Generate" not in p),
        ("no Python evaluator, no single partition", lambda p: "EvalPython" not in p and "SinglePartition" not in p),
        ("one corpus scan", lambda p: p.count("Location: InMemoryFileIndex") <= 1),
    ],
    # r14: X176 — absorb is two parquet scans of the persisted store
    # united into one 16-group aggregate; no join anywhere, and the
    # document text never enters
    "dedup_catalog_absorb": [
        ("reads the persisted artifact", lambda p: "dedup_catalog" in p),
        ("union of store partitions, no join of any kind", lambda p: "Union" in p and "Join" not in p),
        ("text never enters", lambda p: "documents.parquet" not in p),
        ("no Python evaluator, no single partition", lambda p: "EvalPython" not in p and "SinglePartition" not in p),
    ],
    # r14: X177 — expiry is the store scans + ONE broadcast anti-join
    # against the dimension-sized takedown list; the catalog never
    # shuffles and the text column never enters (the tombstone scan
    # reads doc_id only)
    "dedup_catalog_expire": [
        ("reads the persisted artifact", lambda p: "dedup_catalog" in p),
        ("tombstones broadcast anti-join", lambda p: "BroadcastHashJoin LeftAnti" in p),
        ("no SMJ: the store side never sort-shuffles for the delete", lambda p: "SortMergeJoin" not in p),
        ("tombstone scan reads only doc_id", lambda p: "ReadSchema: struct<doc_id:bigint>" in p),
        ("no Python evaluator, no single partition", lambda p: "EvalPython" not in p and "SinglePartition" not in p),
    ],
}


def check_bucketed_snapshot_diff(spark, sf_dir: str) -> int:
    """operators/merge.py claims the snapshot_diff full-outer exchange
    disappears when both snapshot versions are written bucketed by the
    key (write_bucketed_table). Prove it at the plan level: two
    bucketed versions of orders -> snapshot_diff -> SortMergeJoin with
    ZERO Exchange nodes, and the diff classifies the seeded change."""
    import tempfile

    from pyspark.sql import functions as F

    from xero_api_etl_utilities_spark.operators.merge import snapshot_diff
    from xero_api_etl_utilities_spark.sources.writer import write_bucketed_table

    wh = tempfile.mkdtemp(prefix="audit_bucketed_")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    failures = 0
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS audit_b LOCATION '{wh}'")
        # coalesce with a literal declares the key NON-NULLABLE — the
        # precondition for bucket co-location (merge.py: nullable keys
        # force eqNullSafe, whose rewritten coalesce/isnull join keys a
        # raw-column bucket layout cannot satisfy)
        base = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            F.coalesce(F.col("o_orderkey"), F.lit(-1)).alias("o_orderkey"),
            "o_orderstatus",
            "o_totalprice",
        )
        nxt = base.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") + 1)
            .otherwise(F.col("o_totalprice")),
        ).filter(F.col("o_orderkey") % 97 != 0)
        for tbl, df in (("snap_old", base), ("snap_new", nxt)):
            write_bucketed_table(df, f"audit_b.{tbl}", ["o_orderkey"])
        # null_safe=False: the key is non-null by construction, and
        # file-backed tables read back nullable regardless — this is
        # the caller contract that unlocks bucket co-location
        diff = snapshot_diff(
            spark.table("audit_b.snap_old"),
            spark.table("audit_b.snap_new"),
            ["o_orderkey"],
            null_safe=False,
        )
        plan = formatted_plan(diff)
        checks = [
            ("bucketed diff: sort-merge join", "SortMergeJoin" in plan),
            ("bucketed diff: ZERO Exchange (both shuffles elided)",
             "Exchange" not in plan),
            ("bucketed diff: classifies seeded changes",
             {r["change_type"] for r in diff.select("change_type").distinct().collect()}
             == {"changed", "removed"}),
        ]
        for label, ok in checks:
            print(f"{'ok  ' if ok else 'FAIL'} snapshot_diff: {label}", flush=True)
            failures += 0 if ok else 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP DATABASE IF EXISTS audit_b CASCADE")
    return failures


def check_headline_is_scale_safe() -> int:
    """The brute-force exactness baseline must not be a headline bench
    entry (VERDICT r1 item 2)."""
    from xero_api_etl_utilities_spark.plans import catalog

    ok = "similarity_topk" in catalog.bounded()
    print(f"{'ok  ' if ok else 'FAIL'} bench headline: brute-force similarity demoted")
    return 0 if ok else 1


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])  # optional query-name subset
    from xero_api_etl_utilities_spark.plans import catalog
    from xero_api_etl_utilities_spark.session import get_spark

    spark = get_spark(
        app_name="explain-audit",
        master="local[4]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = catalog.queries()
    checks = (
        {n: p for n, p in CHECKS.items() if n in only} if only else CHECKS
    )
    failures = 0
    if not only:
        failures += check_headline_is_scale_safe()
        failures += check_bucketed_snapshot_diff(spark, sf_dir)
    for name, preds in checks.items():
        plan = formatted_plan(qs[name](spark, sf_dir))
        for label, fn in preds:
            ok = fn(plan)
            print(f"{'ok  ' if ok else 'FAIL'} {name}: {label}", flush=True)
            failures += 0 if ok else 1
    print(f"\n{failures} plan-quality failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
