"""Plan-hygiene audit: asserts the physical-plan invariants the
100 TB design depends on — filters pushed to the parquet scan, column
pruning, broadcast joins for dims, no per-row subquery execution,
rank-filter pushed to WindowGroupLimit.

Usage: python tools/explain_audit.py [sf_dir]
Exit 1 if any invariant fails.  Also imported by tests/test_plans.py.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

# invariant spec: query -> dict of checks
#   pushed:    regex that must appear in some PushedFilters list
#   max_scan_cols: {table_fragment: max column count in ReadSchema}
#   min_bhj:   minimum BroadcastHashJoin count
#   forbid:    plan substrings that must NOT appear
AUDITS: dict[str, dict] = {
    "q01_pricing_summary": {
        "pushed": r"LessThanOrEqual\(l_shipdate",
        "max_scan_cols": {"lineitem": 7},
    },
    "q06_revenue_delta": {
        "pushed": r"GreaterThanOrEqual\(l_shipdate",
        "max_scan_cols": {"lineitem": 4},
    },
    "q03_top_orders": {
        "pushed": r"EqualTo\(c_mktsegment,BUILDING\)",
        "min_bhj": 1,
        "forbid": ["CartesianProduct"],
    },
    "q05_region_revenue": {
        "pushed": r"GreaterThanOrEqual\(o_orderdate",
        "min_bhj": 4,
        "forbid": ["CartesianProduct"],
    },
    "q_rank_topk_per_group": {
        # rank <= k must become a per-partition group limit, not a full sort+filter
        "require": ["WindowGroupLimit"],
    },
    "q04_exists_priority": {
        # EXISTS must decorrelate to a semi join
        "require": ["LeftSemi"],
        "forbid": ["CartesianProduct"],
    },
    "q21_exists_not_exists": {
        "require": ["LeftSemi", "LeftAnti"],
    },
    "q20_dominant_supplier": {
        # nested IN + correlated scalar agg in HAVING: both must
        # decorrelate (semi joins + aggregated join, no per-row exec)
        "require": ["LeftSemi"],
        "forbid": ["CartesianProduct"],
    },
    "q17_small_quantity_revenue": {
        # correlated scalar subquery -> aggregated join, no per-row exec
        "forbid": ["CartesianProduct"],
        "min_bhj": 1,
    },
    "q_knn_bruteforce": {
        # top-k must be TakeOrderedAndProject, not a global Sort
        "require": ["TakeOrderedAndProject"],
    },
    "q_dedup_exact": {
        # partial aggregation before the exchange (map-side combine)
        "require": ["HashAggregate"],
    },
    "q_substring_dup_stats": {
        # islands via one keyed window; top-50 must be TakeOrdered,
        # not a global sort; window table scans only (doc_id, text)
        "require": ["Window", "TakeOrderedAndProject"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_substring_dup_by_source": {
        # same island funnel plus the source rollup — scan adds only
        # the source column, never the full row
        "require": ["Window"],
        "max_scan_cols": {"documents": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_substring_excise": {
        # the rewrite is row-local: exactly one Generate fan-out (the
        # cut-position explode) besides the window-table explode; the
        # token text must never be a join key — no cartesian, 2-col scan
        "require": ["Generate"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_multimodal_resize": {
        # two chained Arrow passes (encode UDF + resize/feature
        # mapInPandas); pixels stay executor-side — 2-col scan, no
        # join at all
        "require": ["MapInPandas"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "q_multimodal_frames": {
        # the frame explode happens INSIDE the Arrow batch
        # (mapInPandas), never as a row-level Generate over frames
        "require": ["MapInPandas"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "q_multimodal_audio": {
        # encode pandas-UDF + wav-decode mapInPandas: clip bytes stay
        # executor-side in Arrow batches; 2-col scan, no join at all
        "require": ["MapInPandas"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "q_multimodal_stats": {
        # metadata rollup is pure JVM expression work: whole-stage
        # codegen aggregate, NO Python operator in the plan, 2-col scan
        "require": ["HashAggregate"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["MapInPandas", "ArrowEvalPython", "BatchEvalPython"],
    },
    "q_substring_clean_corpus": {
        # full-corpus rewrite through the bucketed layout: same
        # row-local rewrite shape as the excise pass (Generate for the
        # cut positions, no cartesian); the deeper no-text-shuffle
        # invariant is asserted against the EXECUTED plan in
        # tests/test_runtime_plans.py::TestBucketedCleanCorpus (the
        # audit's static explain can't see AQE's final exchanges).
        "require": ["Generate"],
        "forbid": ["CartesianProduct"],
    },
    "q_train_test_split": {
        # split decision is a scan-level expression: only 3 cols read
        "max_scan_cols": {"documents": 3},
    },
    "q_domain_mix_sample": {
        # sampling is a pure filter: no text column read at all
        "max_scan_cols": {"documents": 2},
    },
    "q_doc_chunking": {
        # chunk fan-out is a map-side Generate over a 2-col scan
        "require": ["Generate"],
        "max_scan_cols": {"documents": 2},
    },
    "q_pack_contiguous": {
        # one keyed window; the rollup reuses the window's partitioning
        # (hash on source satisfies clustering on (source, pack_id)),
        # so no second hash exchange appears between Window and agg
        "require": ["Window"],
        "max_scan_cols": {"documents": 3},
        "max_hash_exchanges": 1,
    },
    "q_pii_redaction": {
        "max_scan_cols": {"customer": 2},
    },
    "q_repetition_stats": {
        "require": ["Generate", "HashAggregate"],
        "max_scan_cols": {"documents": 2},
    },
    "q_multimodal_features": {
        # the decode path must be the Arrow-batched python map operator
        "require": ["MapInPandas"],
        "max_scan_cols": {"documents": 2},
    },
    "q_crossmodal_neardup": {
        # pair mining must carry the hot-shingle df cap (LeftAnti);
        # the annotate joins must never force-broadcast the
        # (corpus-proportional) embedding table; equi-joins only —
        # the planner picks the build side from real sizes
        "require": ["LeftAnti"],
        "forbid": ["CartesianProduct"],
    },
    "q_lsh_recall_sampled": {
        # production recall metric (r6): the md5-bucket sample filter
        # must evaluate INSIDE the scan stage of a 2-column documents
        # read (doc_id, text — never lang/source/n_chars), and the
        # truth/candidate self-joins must never degrade to a cross
        # product.  The crossJoins of the three 1-row aggregates at
        # the end are the intended scalar combine — BroadcastNested-
        # LoopJoin on singletons, not CartesianProduct.
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_dedup_ngram_jaccard": {
        # r13: the shingle + capped tables are cut_lineage'd (explode
        # runs once, mirroring the LSH funnel).  r14 (r13 ADVICE): the
        # cuts hid the funnel inside ExistingRDD subplans, making this
        # audit vacuous — the spec now constructs the plan under
        # spark.omim.checkpoint.mode=none so the WHOLE funnel is
        # visible: the documents scan must stay 2 columns, the df-cap
        # must stay an aggregate + anti join (never a count window,
        # which would funnel a hot shingle's every occurrence through
        # one task), and never a cross product.
        "checkpoint_mode": "none",
        "require": ["LeftAnti"],
        "forbid": ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"],
        "max_scan_cols": {"documents": 2},
    },
    "q_merge_upsert_delta": {
        # MERGE = one full-outer shuffle join; date filter reaches scan
        "pushed": r"GreaterThanOrEqual\(o_orderdate",
        "require": ["FullOuter"],
        "forbid": ["CartesianProduct"],
        "max_scan_cols": {"customer": 3, "orders": 3},
    },
    "q_salted_skew_agg": {
        # two-phase agg: partial on (key, salt) + final on key — both
        # hash aggregates, never a sort-based fallback
        "require": ["HashAggregate"],
        "forbid": ["SortAggregate", "CartesianProduct"],
        "max_scan_cols": {"events": 3},
    },
    "q_label_propagation": {
        "forbid": ["CartesianProduct"],
        "max_scan_cols": {"orders": 3, "lineitem": 2},
    },
    "q_gapfill_locf": {
        # rare-event filter reaches the scan; spine bounds broadcast;
        # LOCF window runs on the rollup, never a cross product
        "pushed": r"GreaterThan\(value,250\.0\)",
        "require": ["Window"],
        "min_bhj": 1,
        "max_scan_cols": {"events": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_grouping_sets_lattice": {
        # the 4-cuboid lattice is a single Expand + one aggregation
        # shuffle, not four scans or four exchanges
        "require": ["Expand"],
        "max_hash_exchanges": 1,
        "max_scan_cols": {"orders": 3},
    },
    "q_histogram_acctbal": {
        # fixed-grid binning: pure expression + map-side combine over
        # a 1-column scan
        "require": ["HashAggregate"],
        "max_scan_cols": {"customer": 1},
    },
    "q_funnel_conversion": {
        # the 3-stage funnel is ONE keyed shuffle (group + array fold),
        # never the 3-join cascade; stage filter reaches the scan
        "pushed": r"In\(event_type",
        "max_hash_exchanges": 1,
        "max_scan_cols": {"events": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_cohort_retention": {
        # cohort + activity weeks computed in one groupBy(user_id)
        # pass: one wide exchange + the tiny rollup exchange
        "max_hash_exchanges": 2,
        "max_scan_cols": {"events": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_profile_table": {
        # all per-column stats in one scan: the multi-distinct agg is
        # a single Expand, never one scan per column
        "require": ["Expand"],
        "max_scan_cols": {"customer": 5},
    },
    "q_quantile_sketch": {
        # the sketch's re-rank pass joins a |event_type|-row broadcast
        # back onto events; only 2 columns ever scanned
        "min_bhj": 1,
        "max_scan_cols": {"events": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_corpus_entropy_kl": {
        # per-source totals, global lang distribution, and corpus total
        # all broadcast onto the (source,lang) cell table — the single
        # full-data pass is the first count
        "min_bhj": 2,
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_zscore_anomaly": {
        # moment stats broadcast back; flagging is map-side arithmetic
        "min_bhj": 1,
        "require": ["HashAggregate"],
        "max_scan_cols": {"events": 2},
        "forbid": ["CartesianProduct", "SortAggregate"],
    },
    "q_tfidf_cosine_pairs": {
        # df-capped inverted-index join: df + n_docs broadcast onto tf;
        # pairs only through shared posting lists, never a cross product
        "min_bhj": 2,
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_bigram_lm": {
        # bigrams generate map-side from the token array; top-k is
        # TakeOrdered, not a global sort
        "require": ["Generate", "TakeOrderedAndProject"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_rolling_7day": {
        # range frame runs over the daily rollup, never raw events
        "require": ["Window", "HashAggregate"],
        "max_scan_cols": {"events": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_cusum_changepoint": {
        # CUSUM windows run over the daily rollup, never raw events;
        # the per-type series mean broadcasts back
        "require": ["Window", "HashAggregate"],
        "min_bhj": 1,
        "max_scan_cols": {"events": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_stratified_k_sample": {
        # rank <= k must push into a per-group limit: each task keeps
        # k rows per stratum instead of sorting whole strata
        "require": ["WindowGroupLimit"],
        "max_scan_cols": {"documents": 3},
    },
    "q_fuzzy_name_match": {
        # fuzzy match runs on the distinct-name table (vocabulary-
        # bounded), blocked self-join, never raw-row pairing
        "require": ["HashAggregate"],
        "max_scan_cols": {"part": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_fuzzy_name_match_fixture": {
        # same core as q_fuzzy_name_match (inline fixture → no parquet
        # scan to cap): still canonicalize-then-block, never raw-row
        # pairing or an unblocked cross
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q_conflict_drop_fixture": {
        # full-outer reconciliation of two pre-aggregated maps — the
        # null-safe filter must not degrade the join to a nested loop.
        # String min/max buffers plan as SortAggregate (not hash), but
        # the partial_min/partial_max still combine before the
        # exchange, which is the invariant that matters.
        "require": ["FullOuter", "partial_min", "partial_max"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q_singleton_groups_fixture": {
        # HAVING COUNT(*)=1 is one partial-aggregated groupBy
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "q_multimodal_y4m": {
        # y4m encode (pandas UDF) + container-walk frame extraction
        # (mapInPandas): stream bytes stay executor-side in Arrow
        # batches; 2-col scan, no join at all
        "require": ["MapInPandas"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "q_sparql_insert_flipped": {
        # already-present suppression must be an anti join, never a
        # per-row NOT EXISTS or a nested loop
        "require": ["LeftAnti"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q_sparql_insert_hgnc_links": {
        # 4-way graph-pattern equi-joins + md5-bnode emission: all
        # equi (no cartesian), emission is pure JVM expression work
        "forbid": [
            "CartesianProduct", "BroadcastNestedLoopJoin",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_omim_axiom_synonyms": {
        # reified-axiom emission is pure JVM expression work: md5
        # bnodes + array explode, never a Python operator or a join
        "forbid": [
            "CartesianProduct", "Join",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_omim_gene_disease_bidi": {
        # both directions + evidence axioms emit from ONE pass over
        # the assoc rows (union of expression projections) — no joins,
        # no Python
        "forbid": [
            "CartesianProduct", "Join",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_omim_xref_links": {
        # packed-id unpack is split+explode (Generate) — pure JVM
        # expression work, no joins, no Python
        "require": ["Generate"],
        "forbid": [
            "CartesianProduct", "Join",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_omim_title_former_suffix": {
        # split/filter/partition/strip are all array expressions +
        # explode — no joins, no Python
        "require": ["Generate"],
        "forbid": [
            "CartesianProduct", "Join",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_omim_title_cleanup": {
        # cleanup / detect / recapitalize are Column expressions
        # (higher-order array functions over the split words) — no
        # Python node of any kind, never a join
        "forbid": [
            "CartesianProduct", "Join",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_omim_transform_entries": {
        # the full entries stage is ONE map stage (docstring contract
        # of entries.transform_entries): Column expressions throughout,
        # title cleanup and recapitalization included — no joins, no
        # shuffles beyond the final tiny sort, no Python
        "forbid": [
            "CartesianProduct", "Join",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_omim_entry_classes": {
        # type-conditional emission is a union of expression
        # projections over ONE entries pass (explode of conditional
        # struct arrays + md5 bnodes) — no joins, no Python
        "require": ["Generate"],
        "forbid": [
            "CartesianProduct", "Join",
            "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_multimodal_y4m_c420": {
        # same shape as q_multimodal_y4m: encode UDF + container-walk
        # extraction in mapInPandas, 2-col scan, join-free
        "require": ["MapInPandas"],
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "q_snapshot_diff": {
        # both snapshot filters reach the scan; the diff is one
        # full-outer shuffle join of two pre-aggregated snapshots
        "pushed": r"LessThan\(o_orderdate",
        "require": ["FullOuter", "HashAggregate"],
        "max_scan_cols": {"orders": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_kmeans_assign": {
        # K centroids broadcast (keyless cross with a broadcast side
        # plans as BroadcastNestedLoopJoin — fine for K rows);
        # assignment is map-side argmin; never a CartesianProduct of
        # the corpus with itself
        "require": ["BroadcastNestedLoopJoin", "HashAggregate"],
        "max_scan_cols": {"embeddings": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_events_hourly_hll": {
        # the production rollup: ONE map-side-combinable aggregation,
        # partial HLL sketches merged in the combiner — no distinct
        # Expand, no per-user pre-aggregation level
        "require": ["HashAggregate"],
        "max_scan_cols": {"events": 4},
        "forbid": ["Expand", "CartesianProduct"],
    },
    "q_ann_ivf_probe": {
        # seeds/centroids/query broadcast (keyless broadcast crosses
        # plan as BroadcastNestedLoopJoin); probe filter is a broadcast
        # semi join; rerank top-k is TakeOrdered, never a global sort;
        # the corpus never self-joins
        "require": ["BroadcastNestedLoopJoin", "TakeOrderedAndProject"],
        "max_scan_cols": {"embeddings": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_bloom_prune_join": {
        # the Bloom bits broadcast onto the orders scan (keyless single
        # row -> BroadcastNestedLoopJoin) and the exact semi join
        # broadcasts the dim; the fact table is filtered BEFORE any
        # exchange and its scan stays at 3 columns
        "pushed": r"EqualTo\(c_mktsegment,BUILDING\)",
        "require": ["BroadcastNestedLoopJoin"],
        "min_bhj": 1,
        "max_scan_cols": {"orders": 3, "customer": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_semantic_dedup": {
        # centroids broadcast (keyless -> BNLJ); the in-cluster pair
        # join is salted but never a cross product of the corpus
        "require": ["BroadcastNestedLoopJoin"],
        "max_scan_cols": {"embeddings": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_pretrain_curation": {
        # dedup + budget selection are keyed windows; funnel joins are
        # broadcast (sources dim is tiny); documents scan <= 3 cols
        "require": ["Window"],
        "min_bhj": 1,
        "max_scan_cols": {"documents": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_dedup_minhash_lsh": {
        # r5 contract: the verification tier's joins are SMJ by
        # explicit hint (Catalyst's static estimate for the candidate
        # shingle table is off by orders of magnitude — an unhinted
        # plan statically broadcast it and OOM'd a 100x probe), so the
        # funnel now pays its shuffles openly: signature stage is
        # still row-local (no explode+groupBy pass), no cross product,
        # and the sort-merge tier must actually be sort-merge.
        # 9 is the MEASURED hashpartitioning count of the post-hint
        # plan at the audit's own conditions (sf0.01, formatted
        # explain) — pinned exactly, zero headroom, so any new
        # exchange fails the audit immediately.
        "require": ["SortMergeJoin"],
        "max_hash_exchanges": 9,
        "forbid": ["CartesianProduct"],
    },
    "q_markov_transitions": {
        # one keyed window shuffle; margin broadcast back onto the
        # aggregated matrix, never a second events pass
        "require": ["Window"],
        "min_bhj": 1,
        "max_scan_cols": {"events": 4},
        "forbid": ["CartesianProduct"],
    },
    "q_countmin_heavy_hitters": {
        # fixed-size sketch: per-term counts map-side combined, the
        # <=1024-cell CMS and exact anchors broadcast onto the probes
        "min_bhj": 2,
        "require": ["HashAggregate"],
        "max_scan_cols": {"documents": 1},
        "forbid": ["CartesianProduct"],
    },
    # --- r8 spec widening: the round-8 driver window's previously
    # unspecified queries (plan facts measured at the audit's own
    # conditions, sf0.01).  Join STRATEGY is deliberately unpinned for
    # the TPC-H-style queries (BHJ vs SMJ legitimately flips with
    # scale/AQE); the sf-independent invariants are column pruning
    # (ReadSchema width), no cross products, and — for the keyed
    # window tier — the single structural exchange.
    "q19_disjunctive_predicates": {
        # disjunctive pred partially pushes; only 4 cols of each side
        "require": ["HashAggregate"],
        "max_scan_cols": {"lineitem": 4, "part": 4},
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q22_global_avg_balance": {
        # decorrelated scalar subquery: one customer pass per role,
        # anti join against orders — never a per-row subquery loop
        "require": ["HashAggregate"],
        "max_scan_cols": {"customer": 3, "orders": 2},
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q07_nation_trade": {
        "require": ["HashAggregate"],
        "max_scan_cols": {
            "lineitem": 5, "orders": 2, "customer": 2,
            "supplier": 2, "nation": 2,
        },
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q11_important_stock": {
        "require": ["HashAggregate"],
        "max_scan_cols": {"lineitem": 4, "supplier": 2, "nation": 2},
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q02_min_cost_supplier": {
        "require": ["HashAggregate"],
        "max_scan_cols": {"part": 3, "lineitem": 3, "supplier": 2},
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q08_market_share": {
        "require": ["HashAggregate"],
        "max_scan_cols": {
            "lineitem": 4, "orders": 3, "customer": 2,
            "supplier": 2, "nation": 2, "region": 2,
        },
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q09_product_profit": {
        "require": ["HashAggregate"],
        "max_scan_cols": {
            "lineitem": 6, "part": 3, "supplier": 2,
            "orders": 2, "nation": 2,
        },
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q_event_islands_rle": {
        # gaps-and-islands: ONE keyed window shuffle; the island agg
        # reuses the window's partitioning
        "require": ["Window", "HashAggregate"],
        "max_hash_exchanges": 1,
        "max_scan_cols": {"events": 4},
        "forbid": ["CartesianProduct"],
    },
    "q_scd2_priority_intervals": {
        "require": ["Window"],
        "max_hash_exchanges": 1,
        "max_scan_cols": {"orders": 4},
        "forbid": ["CartesianProduct"],
    },
    "q_median_doc_stats": {
        # exact percentiles: single keyed shuffle into the percentile
        # aggregate; 2-col scan (no text beyond length arithmetic)
        "require": ["ObjectHashAggregate"],
        "max_hash_exchanges": 1,
        "max_scan_cols": {"documents": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_window_zoo": {
        # the full ranking-function suite over ONE keyed window
        "require": ["Window"],
        "max_hash_exchanges": 1,
        "max_scan_cols": {"customer": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_null_semantics": {
        "max_hash_exchanges": 1,
        "max_scan_cols": {"orders": 3},
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q_equiv_cliques": {
        # shared-symbol cliques via window collect, never a self-join
        # explosion (inline fixture → no parquet scan to cap)
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q_array_hof_zoo": {
        # higher-order array functions must stay JVM expressions: no
        # Python operator of any kind, no join, 2-col scan
        "max_scan_cols": {"documents": 2},
        "forbid": [
            "CartesianProduct", "MapInPandas",
            "ArrowEvalPython", "BatchEvalPython",
        ],
    },
    "q_approx_distinct_sketch": {
        # approx_count_distinct: partial sketches map-side combined
        "require": ["HashAggregate"],
        "max_hash_exchanges": 2,
        "max_scan_cols": {"events": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_trending_rank_delta": {
        # two period rollups + one rank window; deltas join on the
        # (bounded) key domain — never a raw-events self join
        "require": ["Window", "HashAggregate"],
        "max_hash_exchanges": 3,
        "max_scan_cols": {"events": 2},
        "forbid": ["CartesianProduct"],
    },
    "q_percentile_bands": {
        "require": ["ObjectHashAggregate"],
        "max_hash_exchanges": 1,
        "max_scan_cols": {"events": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_hll_merge_rollup": {
        # partial HLL sketches built per cell then MERGED upward —
        # the rollup must aggregate sketches, not rescan events
        "require": ["ObjectHashAggregate"],
        "max_hash_exchanges": 4,
        "max_scan_cols": {"events": 3},
        "forbid": ["CartesianProduct"],
    },
    "q_weighted_sample_es": {
        # key is stateless map-side arithmetic; selection is
        # TakeOrdered per partition, never a global sort
        "require": ["TakeOrderedAndProject"],
        "max_scan_cols": {"documents": 3},
        "forbid": ["Exchange"],
    },
    "q_bm25_topk": {
        # df + corpus stats broadcast back onto tf; top-k never a
        # global sort
        "require": ["TakeOrderedAndProject"],
        "min_bhj": 2,
        "max_scan_cols": {"documents": 2},
    },
}


# ---------------------------------------------------------------------------
# MEASURED pruning tripwires (r8): every remaining batch query gets the
# sf-independent minimum — column-pruning caps exactly as MEASURED from
# the executed plan at the audit's own conditions (sf0.01) plus a
# cross-product ban (BroadcastNestedLoopJoin banned wherever the
# measured plan had none; q_vocab_coverage legitimately carries one —
# a literal vocab table).  These are regression tripwires, not design
# docs: a future edit that widens a scan or introduces a cross product
# fails the audit the moment it lands.  Curated AUDITS entries above
# take precedence on collision.  Regenerate after intentional plan
# changes with the snippet in the r8 session notes (dump ReadSchema
# widths per table from executedPlan at sf0.01).
MEASURED_AUDITS: dict[str, dict] = {

    'q_pagerank_steps': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_vocab_coverage': {'max_scan_cols': {'documents': 1}, 'forbid': ['CartesianProduct']},
    'q_feature_hashing': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_phrase_search': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_stopword_induction': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct']},
    'q_top_terms_per_source': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct']},
    'q_doc_length_histogram': {'max_scan_cols': {'documents': 1}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_dup_rate_by_source': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_ann_lsh_buckets': {'max_scan_cols': {'embeddings': 1}, 'forbid': ['CartesianProduct']},
    'q_ann_pq_adc': {'max_scan_cols': {'embeddings': 2}, 'forbid': ['CartesianProduct']},
    'q_events_hourly': {'max_scan_cols': {'events': 4}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_sequence_pattern': {'max_scan_cols': {'events': 4}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_latest_per_key': {'max_scan_cols': {'events': 5}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_zorder_locality': {'max_scan_cols': {'events': 2}, 'forbid': ['CartesianProduct']},
    'q_dedup_normalized': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_dedup_lsh_capped': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    # r11: fuzzy decontamination — the bench side (bands, shingles,
    # sizes) is broadcast-by-construction; the scan stays 3-col
    # (doc_id, text, source) and all shingle work is JVM expressions
    'q_decontaminate_fuzzy': {'min_bhj': 3, 'max_scan_cols': {'documents': 3},
                              'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin',
                                         'BatchEvalPython', 'ArrowEvalPython', 'MapInPandas']},
    'q_dedup_lsh_capfire': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin',
                                       'BatchEvalPython', 'ArrowEvalPython', 'MapInPandas']},
    'q_ann_ivf_stored': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_linear_fit': {'max_scan_cols': {'events': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_perplexity_filter': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q10_returned_items': {'max_scan_cols': {'lineitem': 4, 'orders': 3, 'customer': 4, 'nation': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_anti_join_customers': {'max_scan_cols': {'customer': 2, 'orders': 1}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_semi_join_customers': {'max_scan_cols': {'customer': 2, 'orders': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_conflict_drop_join': {'max_scan_cols': {'customer': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_self_join_pairs': {'max_scan_cols': {'lineitem': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_upsert_merge': {'max_scan_cols': {'orders': 4}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_triple_graph_pattern': {'max_scan_cols': {'customer': 2, 'nation': 2, 'region': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_group_collect_parts': {'max_scan_cols': {'lineitem': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_clique_suppliers': {'max_scan_cols': {'supplier': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_window_assoc_count': {'max_scan_cols': {'orders': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_singleton_groups': {'max_scan_cols': {'lineitem': 1}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_distinct_pairs': {'max_scan_cols': {'customer': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_except_members': {'max_scan_cols': {'customer': 1, 'orders': 1}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_union_parties': {'max_scan_cols': {'supplier': 3, 'customer': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_rollup_acctbal': {'max_scan_cols': {'supplier': 2, 'nation': 3, 'region': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_stats_aggregates': {'max_scan_cols': {'orders': 2, 'customer': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_unpivot_melt': {'max_scan_cols': {'customer': 4}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_incremental_rollup': {'max_scan_cols': {'orders': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_ab_experiment': {'max_scan_cols': {'orders': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_k_anonymity': {'max_scan_cols': {'customer': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_skew_report': {'max_scan_cols': {'lineitem': 1, 'events': 1}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_regexp_morbid_extract': {'max_scan_cols': {'part': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_token_explode_counts': {'max_scan_cols': {'documents': 1}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_string_scalar_suite': {'max_scan_cols': {'customer': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_dates_monthly': {'max_scan_cols': {'orders': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_case_evidence_branch': {'max_scan_cols': {'orders': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_text_quality': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_lang_id_heuristic': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_token_count_bpe': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_dedup_cluster_survivors': {'max_scan_cols': {'documents': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_dedup_incremental': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_lsh_recall': {'forbid': ['CartesianProduct']},
    'q_dedup_containment': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_dedup_cluster_histogram': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_doc_fingerprint': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_tf_df_stats': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct']},
    'q_dedup_simhash': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_grouped_rank_normalize': {'max_scan_cols': {'documents': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_embedding_neardup': {'max_scan_cols': {'embeddings': 2}, 'forbid': ['CartesianProduct']},
    'q_embedding_centroids': {'max_scan_cols': {'embeddings': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_sessionize': {'max_scan_cols': {'events': 4}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_json_props': {'max_scan_cols': {'events': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_user_activity_pivot': {'max_scan_cols': {'events': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_events_sliding_window': {'max_scan_cols': {'events': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_asof_click_purchase': {'max_scan_cols': {'events': 5}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_interval_join_attribution': {'max_scan_cols': {'events': 4}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_entry_types': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_title_split': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_assoc_decision': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_phenotypic_series': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_sssom_normalize': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_parse_id': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_cache_upsert_unpack': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_hgnc_conflict_drop': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_omim_restriction_emission': {'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q12_case_agg_shipmode': {'max_scan_cols': {'orders': 2, 'lineitem': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q13_customer_distribution': {'max_scan_cols': {'customer': 1, 'orders': 3}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q14_promo_share': {'max_scan_cols': {'lineitem': 4, 'part': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q15_top_supplier': {'max_scan_cols': {'supplier': 2, 'lineitem': 4}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q16_parts_suppliers': {'max_scan_cols': {'part': 4, 'lineitem': 2, 'supplier': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q18_large_orders': {'max_scan_cols': {'customer': 2, 'orders': 3, 'lineitem': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_substring_spans': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
    'q_decontaminate': {'max_scan_cols': {'documents': 2}, 'forbid': ['CartesianProduct', 'BroadcastNestedLoopJoin']},
}

AUDITS = {**MEASURED_AUDITS, **AUDITS}


def _scan_widths(plan: str) -> list[tuple[str, int]]:
    """(Location line, ReadSchema column count) for every scan block
    in a formatted explain.  Each ReadSchema is paired with the
    NEAREST PRECEDING Location line — block-local, unlike the old
    greedy `Location:.*frag.*?ReadSchema` regex, which with re.S
    could bind a Location far above to a different table's
    ReadSchema below (observed: a lineitem ReadSchema attributed to
    the supplier cap in q15)."""
    locs = [
        (m.start(), m.group(0))
        for m in re.finditer(r"Location: [^\n]*", plan)
    ]
    out: list[tuple[str, int]] = []
    li = 0
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        while li < len(locs) and locs[li][0] < m.start():
            li += 1
        if li:
            out.append((locs[li - 1][1], len(m.group(1).split(","))))
    return out


def audit(spark, sf_dir: str) -> list[str]:
    from omim_spark.workload import BENCH_ONLY, QUERIES

    failures: list[str] = []
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name, spec in AUDITS.items():
        fn = QUERIES[name].fn if name in QUERIES else BENCH_ONLY[name]
        # checkpoint_mode=none constructs the plan with lineage cuts
        # disabled so invariants INSIDE a checkpointed funnel stay
        # auditable (otherwise the cut subplan is an opaque
        # ExistingRDD and the spec can't catch a regression there).
        ckpt = spec.get("checkpoint_mode")
        if ckpt is not None:
            prev = spark.conf.get("spark.omim.checkpoint.mode", None)
            spark.conf.set("spark.omim.checkpoint.mode", ckpt)
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        finally:
            if ckpt is not None:
                if prev is None:
                    spark.conf.unset("spark.omim.checkpoint.mode")
                else:
                    spark.conf.set("spark.omim.checkpoint.mode", prev)
        if "pushed" in spec:
            pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
            if not re.search(spec["pushed"], pushed):
                failures.append(f"{name}: filter not pushed ({spec['pushed']})")
        scans = _scan_widths(plan)
        for frag, max_cols in spec.get("max_scan_cols", {}).items():
            for loc, ncols in scans:
                if frag in loc and ncols > max_cols:
                    failures.append(
                        f"{name}: {frag} scan reads {ncols} cols (max {max_cols})"
                    )
        if plan.count("BroadcastHashJoin") < spec.get("min_bhj", 0):
            failures.append(
                f"{name}: expected >= {spec['min_bhj']} broadcast joins, "
                f"got {plan.count('BroadcastHashJoin')}"
            )
        if "max_hash_exchanges" in spec:
            n_ex = plan.count("hashpartitioning(")
            if n_ex > spec["max_hash_exchanges"]:
                failures.append(
                    f"{name}: {n_ex} hash exchanges "
                    f"(max {spec['max_hash_exchanges']})"
                )
        for frag in spec.get("require", []):
            if frag not in plan:
                failures.append(f"{name}: plan missing {frag}")
        for frag in spec.get("forbid", []):
            if frag in plan:
                failures.append(f"{name}: plan contains forbidden {frag}")
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from omim_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = audit(spark, sf_dir)
    for f in failures:
        print("FAIL", f)
    print(f"{len(AUDITS) - len(set(f.split(':')[0] for f in failures))}/"
          f"{len(AUDITS)} queries pass plan audit")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
