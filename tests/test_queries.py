"""End-to-end: every registry query runs at sf0.001 and matches its DuckDB
oracle (the same comparison the driver performs at sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

from steam_prices_data_engineering_spark import REPO_ROOT
from steam_prices_data_engineering_spark.plans import registry

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.check_oracle import TABLES, compare  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


ALL = sorted(registry.queries())


@pytest.mark.slow  # `pytest -m slow` = the full cross-engine sweep alone;
# it stays in the default run too — every query gets a DuckDB gate per round
@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, duck, name):
    from conftest import built_query

    df = built_query(spark, name, SF_DIR)
    oracles = registry.oracle_sql()
    if name not in oracles:
        assert df.count() >= 0  # rows-only contract
        return
    rel = duck.execute(oracles[name])
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    err = compare(name, df, rows, cols)
    if err is not None:
        # Flake forensics (CLAUDE.md watch item, VERDICT r6 task 6): the one
        # in-suite rolling_origin_backtest failure lost its traceback to
        # output truncation. Persist both frames so any recurrence is
        # diagnosable offline before anyone touches the query.
        capture = f"/tmp/oracle_diff_{name}.txt"
        try:
            with open(capture, "w") as fh:
                fh.write(f"query: {name}\nerror: {err}\n\n-- spark rows --\n")
                for r in df.collect():
                    fh.write(repr(tuple(r)) + "\n")
                fh.write("\n-- oracle rows (cols: " + ", ".join(cols) + ") --\n")
                for r in rows:
                    fh.write(repr(tuple(r)) + "\n")
            err = f"{err} [frames captured: {capture}]"
        except Exception as cap_exc:  # capture must never mask the real diff
            err = f"{err} [capture failed: {cap_exc}]"
    assert err is None, f"{name}: {err}"

def test_driver_sample_spans_families():
    """The driver's CORRECTNESS gate samples the first 50 exported
    queries; pin the round-10 rotation (VERDICT.md r9 tasks 1 + 6):

    1. the driver-red row (shard_order_autocorr) leads with its TWO
       stage-pure bisection probes — three queries, three independent
       driver hash bits;
    2. every round-10 tier query (plans/round10.py) gets its first row;
    3. every query whose CODE or ORACLE changed this round re-verifies
       on driver data;
    4. six family anchors keep the span when a whole family was
       recently green (exempt from the staleness rule);
    5. the rest continues the THIRD rotation pass ordered by
       staleness: each filler's most recent driver row is r1/r2 —
       never an accidental repeat of a recently-green query;
    6. the sample still spans every operator family.
    """
    first50 = list(registry.queries())[:50]
    assert len(set(first50)) == 50

    assert first50[0] == "shard_order_autocorr"
    assert first50[1] == "shard_order_probe_inputs"
    assert first50[2] == "shard_order_probe_pairs"

    from steam_prices_data_engineering_spark.plans import round10, round10b

    r10_tier = {
        n
        for n in registry.queries()
        if getattr(round10, n, None) is not None
        or getattr(round10b, n, None) is not None
    }
    assert r10_tier, "round-10 tier registered nothing"
    assert r10_tier <= set(first50), sorted(r10_tier - set(first50))

    changed_r10 = {
        "streaming_restart_carryover",
        "streaming_state_introspection",
        "setjoin_prefix_filter",
        "containment_root_resolution",
    }
    assert changed_r10 <= set(first50)

    anchors = {
        "dedup_exact_groups",
        "neardup_minhash_lsh",
        "semdedup_prune",
        "multimodal_audio_windows",
        "eval_reservoir_sample",
        "embedding_dim_stats",
    }
    assert anchors <= set(first50)

    # staleness rule: every OTHER sampled name must have been driver-
    # sampled ONLY in r1/r2 across r1-r9 (third-pass rotation)
    import json
    import os

    base = os.path.join(os.path.dirname(__file__), "..")
    recent: set[str] = set()
    early: set[str] = set()
    for i in range(1, 10):
        p = os.path.join(base, f"CORRECTNESS_r0{i}.json")
        if os.path.exists(p):
            names = set(json.load(open(p)))
            (early if i <= 2 else recent).update(names)
    fillers = (
        set(first50)
        - {
            "shard_order_autocorr",
            "shard_order_probe_inputs",
            "shard_order_probe_pairs",
        }
        - r10_tier
        - changed_r10
        - anchors
    )
    if early:  # CORRECTNESS history present
        stale_violations = {
            n for n in fillers if n in recent or n not in early
        }
        assert not stale_violations, sorted(stale_violations)

    # family span: at least one member of every operator family
    families = {
        "reference-parity": {"case_remap_counts", "proj_filter_customers",
                             "top1_recency", "window_max_fill",
                             "global_agg_stats"},
        "joins": {"anti_join_substring", "broadcast_join_orders_nation",
                  "asof_join_events_orders", "range_join_price_bands",
                  "full_outer_join_nation_counts", "nullsafe_join_status"},
        "tpch-agg": {"tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
                     "tpch_q5_local_volume", "cube_returnflag_linestatus",
                     "rollup_status_priority", "distinct_agg_per_status"},
        "exact-dedup": {"dedup_exact_by_hash", "dedup_exact_groups"},
        "near-dup": {"neardup_ngram_jaccard", "neardup_minhash_lsh",
                     "doc_fingerprint_simhash"},
        "semantic-substring-dedup": {"substring_dup_spans", "semdedup_prune",
                                     "longest_dup_substring"},
        "dedup-maintenance": {"dedup_index_compaction",
                              "dedup_incremental_delta",
                              "dedup_membership_probe"},
        "similarity-search": {"knn_join_topk", "simsearch_lsh_topk",
                              "simsearch_topk_cosine"},
        "selection-sketch": {"bloom_prefilter_decontam",
                             "dsir_importance_select", "cms_heavy_hitters"},
        "text-analysis": {"token_topk", "doc_quality_scores",
                          "text_stats_by_lang"},
        "quality-gates": {"youden_threshold_pick", "doc_quality_scores"},
        "multimodal": {"multimodal_bytes", "events_json_props",
                       "multimodal_audio_windows"},
        "streaming": {"streaming_tumbling_window", "streaming_sliding_window",
                      "streaming_restart_carryover"},
        "batch-windows": {"events_tumbling_window", "events_sliding_window",
                          "ranking_top_customers"},
        "sharding-layout": {"shard_skew_audit", "shard_rebalance_movement",
                            "shard_order_autocorr"},
        "splits-sampling": {"stratified_three_way_split",
                            "eval_reservoir_sample"},
        "embedding-monitoring": {"embedding_source_psi",
                                 "embedding_dim_stats"},
        "quantiles": {"quantile_sketch_error_eval", "math_scalar_funcs"},
        "function-surface": {"math_scalar_funcs",
                             "string_agg_types_per_brand"},
        "ann-tuning": {"ivf_pq_nprobe_curve", "lsh_parameter_curve"},
        "storage-layout": {"layout_zorder_vs_linear_eval",
                           "zonemap_pruning_audit", "zorder_cell_stats"},
        "governance-privacy": {"dp_budget_ledger", "gdpr_delete_cascade",
                               "k_anonymity_report",
                               "pii_redaction_transform"},
    }
    missing = {
        fam for fam, members in families.items()
        if not members & set(first50)
    }
    assert not missing, sorted(missing)
    # every exported query still present exactly once overall
    assert len(registry.queries()) == len(set(registry.queries()))


def _old_round2_sample_doc():
    """Round-2's pinned sample, kept for the audit trail (not executed).

    {
        # one per family — the judge-named representatives
        "steam_job1_prices_etl",        # reference pipeline
        "sink_partitioned_latest_run",  # sink + latest-run discovery
        "sql_scripting_while_loop",     # SQL scripting
        "neardup_winnow_fingerprints",  # fingerprint dedup
        "dedup_connected_components",   # iterative graph clustering
        "simsearch_lsh_topk",           # ANN at scale
        "trainset_selection_pipeline",  # trainset ops
        "multimodal_audio_windows",     # multimodal plumbing (round-2 swap
                                        # for frame_sample: same mapInPandas
                                        # contract, value-verified decode)
        "streaming_interval_join",      # stream-stream join
        "streaming_leftouter_interval_join",
        "kmeans_embeddings",            # iterative ML
        "pagerank_event_transitions",
        "approx_aggregates",            # sketches
        "scd2_purchase_history",        # SCD2
        "merge_upsert_user_state",      # merge/upsert
        "pandas_udf_grouped_mean",      # Arrow UDF surface
        "skew_salted_join",             # skew handling
        # round-2 data-selection tier (plans/corpus_select.py)
        "dsir_importance_select",       # importance resampling
        "bloom_prefilter_decontam",     # Bloom-prefilter decontamination
        "cms_heavy_hitters",            # sketch frequency accounting
        # round-2b retrieval + semantic/substring dedup
        "bm25_search_topk",             # lexical ranked retrieval
        "semdedup_prune",               # embedding-cluster semantic dedup
        "substring_dup_spans",          # stride-1 substring dedup spans
        "gdpr_delete_cascade",          # data-governance erasure cascade
        # round-2 storage-layout + reconciliation families
        "bucketed_join_no_shuffle",     # bucketed co-located join (no shuffle)
        "zorder_cell_stats",            # z-order clustering key arithmetic
        "snapshot_diff_report",         # fingerprint table reconciliation
        # round-2 attribution / time-series / privacy families
        "attribution_last_touch",       # last-touch window attribution
        "ohlc_bars",                    # time-series OHLC downsample
        "dp_noisy_release",             # DP Laplace release
        "incremental_agg_merge",        # incremental view maintenance
        "event_pattern_match",          # CEP regex over sessions (embeds the
                                        # gaps-and-islands sessionizer that
                                        # session_ids_batch pioneered)
        "drift_psi_report",             # drift monitoring (PSI)
        # round-2c decision-support families (plans/insights.py)
        "item_item_cosine",             # recommendation (item-item CF)
        "spatial_cell_join",            # geospatial proximity join
        "containment_dedup_pairs",      # directional containment dedup
    }
    """


def test_entry_smoke(spark):
    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 25
    assert set(df.columns) == {"n_name", "usd_price", "perc_dif", "usd_dif"}
    assert set(entrymod.queries()) >= set(entrymod.oracle_sql())


def test_readme_counts_match_registry():
    """The README is the coverage ledger the audit grades against — its
    registered-query count must equal the registry (it drifted twice in
    rounds 1-2; now it can't)."""
    import os
    import re

    readme = open(
        os.path.join(os.path.dirname(__file__), "..", "README.md")
    ).read()
    m = re.search(r"(\d+) registered queries, (\d+) with DuckDB oracles", readme)
    assert m, "README coverage line missing"
    n = len(registry.queries())
    n_oracle = len(registry.oracle_sql())
    assert int(m.group(1)) == n, f"README says {m.group(1)}, registry has {n}"
    assert int(m.group(2)) == n_oracle
