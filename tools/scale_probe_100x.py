"""Push scale evidence one decade up for the dedup/retrieval
heavy-hitters (VERDICT r6 task 7): time the top shuffle-heavy queries
at 1x / 10x / 100x fixture volume and report each query's result-set
growth law alongside its runtime growth.

Usage: python tools/scale_probe_100x.py
Writes/overwrites the "100x decade probe" section appended to SCALE.md.

The 100x landing is the 10x-amplified sf0.1 built by
tools/amplify_fixture.py (documents/events/orders/lineitem x10 with
perturbed replicas so candidate-set structure grows like a real corpus,
not like a copy farm — see that module's docstring). The 1x point is
sf0.01, so each step is one decade of fact volume.

Two growth signals per query:
- wall-time ratio per decade (superlinear > 12x flags, same threshold
  as tools/scale_probe.py);
- RESULT CARDINALITY per scale — for the dedup family the result is
  the pair/report set, so rows(100x)/rows(10x) IS the candidate-set
  growth law the verdict asked for (pairs should track docs ~linearly
  under banded/blocked candidate generation; quadratic pairs mean the
  blocking broke). lsh_recall_empirical additionally reports its own
  n_candidates/n_truth counters per scale.

Methodology notes: noop sink, min of 2, warm-up at sf0.001,
clearCache() between queries (honest cold plans; cached stages inside
one timing survive its two reps, matching bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from steam_prices_data_engineering_spark import SCRATCH_DIR
from steam_prices_data_engineering_spark.plans import registry
from steam_prices_data_engineering_spark.session import get_spark
from tools.amplify_fixture import build

SUPERLINEAR_RATIO = 12.0  # one decade; allow 20% over linear

# The shuffle-heavy headliners named in VERDICT r6 task 7 plus the rest
# of the dedup/retrieval family's expensive candidate generators.
QUERIES = [
    "lsh_recall_empirical",
    "containment_dedup_pairs",
    "dedup_pipeline_report",
    "bm25_ndcg_vs_semantic",
    "rm3_query_expansion",
    "bigram_entropy_rate",
    "neardup_minhash_lsh",
    "neardup_ngram_jaccard",
    "semdedup_prune",
    "dedup_threshold_sweep",
    "graph_neardup_triangles",
    "kneser_ney_bigram_ppl",
    # round-7 fact-scale additions: chunk-grain keeper groups, per-source
    # rank windows, and the event-scan pattern audit all grow with the
    # corpus (theil/fleiss/split/packing are bounded-grain or covered)
    "dedup_keeper_policy_eval",
    "spearman_scorer_agreement",
    "pii_pattern_audit",
    # round-7 heavy queries (VERDICT r7 task 7): the K-pass traversal,
    # the GK-selection gate, and the panel-bounded valuation pair. NOTE
    # theil_sen_daily_trend is deliberately probed even though its pair
    # stage is O(days^2): the amplifier multiplies EVENTS, not the
    # calendar, so days (and the pair count) are CONSTANT across decades
    # — the probe verifies only the day-rollup scan grows linearly; the
    # pair stage is calendar-bounded by construction (31 fixture days ->
    # 465 pairs at every scale).
    "coreset_kcenter_selection",
    "quantile_sketch_error_eval",
    "knn_shapley_valuation",
    "knn_shapley_truncation_error",
    "theil_sen_daily_trend",
    # round-8 fact-scale additions (the bounded-grain SLO/rebalance/
    # planner queries ride along as linear-scan sanity rows)
    "decontam_ngram13_eval",
    "bpe_roundtrip_fidelity",
    "range_partition_planner",
    "slo_burn_rate_windows",
    "shard_rebalance_movement",
    # round-8b: linear-scan + bounded-grain sanity rows
    "voptimal_histogram",
    "unimax_allocation",
    "krippendorff_alpha_rules",
    "partition_fingerprint_diff",
    "nb_overdispersion_daily",
    # round-8c: the trigram candidate generator (df-capped index — the
    # growth law to watch), the vocab-grain phonetic audit, the
    # distinct-score operating-point sweep
    "trigram_similarity_join",
    "soundex_token_blocks",
    "youden_threshold_pick",
    # round-9: the window-hash dup-run generator (stride-1 index — the
    # growth law to watch: dup positions should track the replica
    # structure ~linearly, never all-pairs), the band-index compaction
    # bookkeeping (bounded band grain), the per-source PSI (bounded
    # spine), and the shard-order audit pair (linear scan + 16-row
    # grain; the probe rides along as a regression sentinel)
    "longest_dup_substring",
    "longest_dup_span_pairs",
    "pii_redaction_transform",
    "dedup_index_compaction",
    "embedding_source_psi",
    "shard_order_autocorr",
    "shard_order_probe_inputs",
    "shard_order_probe_pairs",
    # round-9d: panel-bounded embedding scans (16 fixed queries x N —
    # linear per decade), and the delta-quadrant join view (FK-kept
    # amplification scales every quadrant linearly)
    "matryoshka_prefix_recall",
    "bitext_margin_mining",
    "ivm_join_delta_merge",
    # round-9e: BSP frontier growth over the candidate graph and the
    # pointer-jump forest (both ride the capped posting stages)
    "neardup_bfs_hops",
    "containment_root_resolution",
    # round-9f: the prefix-filtered candidate law (rides the df-capped
    # posting stages; prefix indexing must stay sublinear per decade)
    # and the one-scan AMS sketch (pure linear-scan sanity row)
    "setjoin_prefix_filter",
    "ams_f2_join_size",
    # round-10: the online index probe (candidate law = probe-side band
    # fan-out) and the trigram-multiset gate (linear stride-1 scan)
    "dedup_membership_probe",
    "repeated_ngram_loop_gate",
    # round-10b: sig-stage rider (bounded 64-pair report) and the
    # key-grain hash pass (linear scan)
    "minhash_merge_maintenance",
    "bloom_fpr_operating_curve",
]

SCALES = [
    ("1x", "/root/testdata/sf0.01"),
    ("10x", "/root/testdata/sf0.1"),
    ("100x", None),  # filled with the amplified landing below
]


def _time_and_count(spark, qs, name, sf_dir):
    best = None
    for _ in range(2):
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        el = time.time() - t0
        best = el if best is None else min(best, el)
    rows = qs[name](spark, sf_dir).count()
    spark.catalog.clearCache()
    return round(best, 3), rows


def main():
    amplified = build(dict(SCALES)["10x"], os.path.join(SCRATCH_DIR, "sf1x"), 10)
    scales = [(lbl, d or amplified) for lbl, d in SCALES]

    spark = get_spark(app_name="scale-probe-100x")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    for name in QUERIES:  # warm-up: codegen + class loading
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    spark.catalog.clearCache()

    results = {}
    for name in QUERIES:
        per = {}
        for lbl, sf_dir in scales:
            t, rows = _time_and_count(spark, qs, name, sf_dir)
            per[lbl] = {"sec": t, "rows": rows}
            print(f"  {name} @{lbl}: {t}s, {rows} rows", file=sys.stderr)
        results[name] = per

    # lsh_recall_empirical's own counters are the pairs-vs-docs law for
    # the banded MinHash pipeline; pull them per scale.
    lsh_counters = {}
    for lbl, sf_dir in scales:
        row = qs["lsh_recall_empirical"](spark, sf_dir).collect()[0]
        lsh_counters[lbl] = {
            "n_truth": row["n_truth"],
            "n_candidates": row["n_candidates"],
            "n_verified": row["n_verified"],
        }
        spark.catalog.clearCache()

    # the prefix-filter join's candidate law (VERDICT r9 task 3): pairs
    # the prefix index generates BEFORE verification, per scale.
    from steam_prices_data_engineering_spark.plans.round9f import (
        setjoin_candidate_count,
    )

    ssj_counters = {}
    for lbl, sf_dir in scales:
        ssj_counters[lbl] = {
            "n_candidates": setjoin_candidate_count(spark, sf_dir),
            "n_verified": results["setjoin_prefix_filter"][lbl]["rows"],
        }
        spark.catalog.clearCache()

    lines = [
        "",
        "## 100x decade probe (dedup/retrieval heavy-hitters)",
        "",
        "Generated by `python tools/scale_probe_100x.py`. 1x = sf0.01,",
        "10x = sf0.1, 100x = the perturbed-replica amplified landing",
        "(`tools/amplify_fixture.py`; docs/events/orders/lineitem x10 of",
        "sf0.1). `rows` is each query's own result cardinality — for the",
        "pair-producing dedup queries this is the candidate-set growth law",
        "(pairs should track docs ~linearly under banded/blocked candidate",
        f"generation). Flag threshold per decade: >{SUPERLINEAR_RATIO}x.",
        "",
        "| query | t(1x) | t(10x) | t(100x) | r 1->10 | r 10->100 "
        "| rows 1x | rows 10x | rows 100x |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    flagged = []
    for name, per in results.items():
        r10 = per["10x"]["sec"] / per["1x"]["sec"] if per["1x"]["sec"] else 0
        r100 = (
            per["100x"]["sec"] / per["10x"]["sec"] if per["10x"]["sec"] else 0
        )
        flag = ""
        if r100 > SUPERLINEAR_RATIO or r10 > SUPERLINEAR_RATIO:
            flag = " ⚠"
            flagged.append(name)
        lines.append(
            f"| {name}{flag} | {per['1x']['sec']} | {per['10x']['sec']} "
            f"| {per['100x']['sec']} | {r10:.2f}x | {r100:.2f}x "
            f"| {per['1x']['rows']} | {per['10x']['rows']} "
            f"| {per['100x']['rows']} |"
        )
    lines += [
        "",
        f"Superlinear (> {SUPERLINEAR_RATIO}x per decade): "
        + (", ".join(flagged) if flagged else "none."),
        "",
        "MinHash-LSH candidate-set law (lsh_recall_empirical's own "
        "counters):",
        "",
        "| scale | n_truth | n_candidates | n_verified |",
        "|---|---|---|---|",
    ]
    for lbl, c in lsh_counters.items():
        lines.append(
            f"| {lbl} | {c['n_truth']} | {c['n_candidates']} "
            f"| {c['n_verified']} |"
        )
    lines += [
        "",
        "Prefix-filter set-join candidate law (setjoin_prefix_filter's "
        "pre-verify candidate pairs vs verified pairs):",
        "",
        "| scale | n_candidates | n_verified |",
        "|---|---|---|",
    ]
    for lbl, c in ssj_counters.items():
        lines.append(
            f"| {lbl} | {c['n_candidates']} | {c['n_verified']} |"
        )
    lines.append("")

    scale_md = os.path.join(REPO, "SCALE.md")
    with open(scale_md) as f:
        content = f.read()
    marker = "\n## 100x decade probe"
    if marker in content:
        content = content[: content.index(marker)]
    with open(scale_md, "w") as f:
        f.write(content.rstrip() + "\n" + "\n".join(lines))
    print(json.dumps({"flagged": flagged, "queries": len(results)}))
    spark.stop()


if __name__ == "__main__":
    main()
