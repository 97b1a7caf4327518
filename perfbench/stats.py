"""Pure helpers of the benchmark: sample statistics, stage folding, span
self time and seeded op order.

Nothing here touches Spark or the file system, so `test_stats.py` covers
all of it without a session.
"""

from __future__ import annotations

import random
import statistics
from datetime import datetime, timedelta

# Tail rule: report the highest percentile that still has this many
# samples beyond it, so a tail figure never rests on one or two outliers.
TAIL_BEYOND = 10

# Stage states whose counters are final. Skipped stages (shuffle output
# reused from an earlier job) ran no tasks and are not counted.
_DONE_STAGE_STATES = {"COMPLETE", "FAILED"}


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile that
    has at least TAIL_BEYOND samples beyond it.

    With fewer than 2 * TAIL_BEYOND + 1 samples that percentile would lie at
    or below the median, which is no tail; the maximum is returned instead,
    with 0 samples beyond, and the caller records that count beside it."""
    if not samples:
        raise ValueError("tail_percentile needs at least one sample")
    ordered = sorted(samples)
    n = len(ordered)
    if n <= 2 * TAIL_BEYOND:
        return ordered[-1], 100.0, 0
    i = n - 1 - TAIL_BEYOND
    return ordered[i], 100.0 * (i + 1) / n, TAIL_BEYOND


def summarize_passes(passes: list[dict]) -> dict:
    """End-to-end timing figures from the timed passes of one run.

    Each pass is {"wall_s": float, "ops": [{"s": float, "ok": bool}, ...]}.
    pass_s is the median pass wall time; op figures pool every op of every
    pass; ok_ratio is ops that neither raised nor failed the output check,
    over ops attempted."""
    if not passes:
        raise ValueError("summarize_passes needs at least one pass")
    op_s = [op["s"] for p in passes for op in p["ops"]]
    attempted = len(op_s)
    failed = sum(1 for p in passes for op in p["ops"] if not op["ok"])
    tail, pct, beyond = tail_percentile(op_s)
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "passes": len(passes),
        "op_p50_s": statistics.median(op_s),
        "op_tail_s": tail,
        "op_tail_percentile": pct,
        "op_tail_beyond": beyond,
        "attempted": attempted,
        "failed": failed,
        "ok_ratio": (attempted - failed) / attempted,
    }


def median_by_key(records: list[dict]) -> dict:
    """Median of each key over per-pass records that share their keys."""
    return {k: statistics.median(r[k] for r in records) for k in records[0]}


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def fold_stages(stages: list[dict]) -> dict:
    """Fold status-store stage records into one set of Spark totals.

    A record holds the fields read from `statusStore().lastStageAttempt(id)`:
    stage_id, attempt, status, num_tasks, num_failed_tasks, run_ms, cpu_ns,
    gc_ms, shuffle_read_bytes, shuffle_write_bytes, spill_bytes, input_bytes,
    input_rows, submit_ms, done_ms (the last two may be None). A stage seen
    through several jobs is counted once. exec_s is the time during which at
    least one stage was running."""
    by_id: dict[int, dict] = {}
    for st in stages:
        if st["status"] in _DONE_STAGE_STATES:
            by_id[st["stage_id"]] = st
    done = list(by_id.values())
    spans = [
        (st["submit_ms"], st["done_ms"])
        for st in done
        if st["submit_ms"] is not None and st["done_ms"] is not None
    ]
    return {
        "spark.stages": len(done),
        "spark.tasks": sum(st["num_tasks"] for st in done),
        "spark.failed_tasks": sum(st["num_failed_tasks"] for st in done),
        "spark.stage_retries": sum(1 for st in done if st["attempt"] > 0),
        "spark.exec_s": interval_union(spans) / 1e3,
        "spark.task_run_s": sum(st["run_ms"] for st in done) / 1e3,
        "spark.task_cpu_s": sum(st["cpu_ns"] for st in done) / 1e9,
        "spark.gc_s": sum(st["gc_ms"] for st in done) / 1e3,
        "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in done),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in done),
        "spark.spill_bytes": sum(st["spill_bytes"] for st in done),
        "spark.input_bytes": sum(st["input_bytes"] for st in done),
        "spark.input_rows": sum(st["input_rows"] for st in done),
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part of
    its interval that its child spans cover. Spans are dicts with id, parent,
    name, start and end."""
    children: dict[object, list[tuple[float, float]]] = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        covered = interval_union(
            [
                (max(s, sp["start"]), min(e, sp["end"]))
                for s, e in children.get(sp["id"], [])
                if min(e, sp["end"]) > max(s, sp["start"])
            ]
        )
        own = sp["end"] - sp["start"] - covered
        out[sp["name"]] = out.get(sp["name"], 0.0) + own
    return out


def op_order(names: list[str], seed: int, pass_index: int) -> list[str]:
    """The seeded order of one pass: a shuffle that depends only on the seed
    and the pass index (string seeding is stable across processes)."""
    order = list(names)
    random.Random(f"{seed}/{pass_index}").shuffle(order)
    return order


def run_key(seed: int, index: int, fmt: str = "%Y%m%d%H%M%S") -> str:
    """Seeded ETL run key: a timestamp inside 2024, formatted like the ones
    `cli.run_jobs` derives from the clock."""
    offset = random.Random(f"{seed}/run_key/{index}").randrange(366 * 86400)
    return (datetime(2024, 1, 1) + timedelta(seconds=offset)).strftime(fmt)
