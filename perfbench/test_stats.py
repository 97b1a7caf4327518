"""Tests of the benchmark's pure helpers. Run from the repository root:

    python3 -m pytest -q -p no:cacheprovider perfbench/test_stats.py
"""

from __future__ import annotations

import json
import os
import re
import struct
import zlib

import pytest

import run
import stats
from checks import png_error
from tracing import OP_METRICS

# Names the benchmark contract accepts for workloads and metrics.
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")

# Stage records as `tracing._stage_record` read them from the status store
# for one tpch_q3_shipping_priority op (one map stage skipped, its shuffle
# reused). The last two are added by hand: stage 10 seen again through a
# second job, and a retried attempt with a failed task and spill that
# overlaps stage 12 in time.
_STAGE_FIELDS = (
    "stage_id",
    "attempt",
    "status",
    "num_tasks",
    "num_failed_tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_rows",
    "submit_ms",
    "done_ms",
)
RECORDED_STAGES = [
    dict(zip(_STAGE_FIELDS, row))
    for row in [
        (11, 0, "SKIPPED", 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, None, None),
        (12, 0, "COMPLETE", 1, 0, 9, 9273819, 0, 31099, 0, 0, 0, 0, 1792209074225, 1792209074255),
        (10, 0, "COMPLETE", 1, 0, 63, 57948017, 0, 0, 31099, 0, 5893, 60000, 1792209074085, 1792209074172),
        (9, 0, "COMPLETE", 1, 0, 20, 19857937, 0, 0, 0, 0, 3555, 15000, 1792209073965, 1792209074010),
        (8, 0, "COMPLETE", 1, 0, 18, 11866749, 0, 0, 0, 0, 6737, 1500, 1792209073814, 1792209073851),
        (10, 0, "COMPLETE", 1, 0, 63, 57948017, 0, 0, 31099, 0, 5893, 60000, 1792209074085, 1792209074172),
        (13, 1, "COMPLETE", 2, 1, 100, 50000000, 7, 0, 0, 4096, 0, 0, 1792209074250, 1792209074400),
    ]
]


def test_tail_percentile_needs_ten_beyond():
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    ten = [float(i) for i in range(10)]
    assert stats.tail_percentile(ten) == (9.0, 100.0, 0)
    # Below 21 samples the rule's percentile is at or under the median.
    assert stats.tail_percentile([float(i) for i in range(20)]) == (19.0, 100.0, 0)
    assert stats.tail_percentile([float(i) for i in range(21)]) == (10.0, 100.0 * 11 / 21, 10)
    value, pct, beyond = stats.tail_percentile([float(i) for i in range(100)])
    assert (value, pct, beyond) == (89.0, 90.0, 10)
    with pytest.raises(ValueError):
        stats.tail_percentile([])


def test_summarize_passes():
    passes = [
        {"wall_s": 4.0, "ops": [{"s": 1.0, "ok": True}, {"s": 3.0, "ok": True}]},
        {"wall_s": 2.0, "ops": [{"s": 0.5, "ok": False}, {"s": 1.5, "ok": True}]},
        {"wall_s": 3.0, "ops": [{"s": 1.0, "ok": True}, {"s": 2.0, "ok": True}]},
    ]
    s = stats.summarize_passes(passes)
    assert s["pass_s"] == 3.0
    assert s["passes"] == 3
    assert s["op_p50_s"] == 1.25
    assert (s["op_tail_s"], s["op_tail_beyond"]) == (3.0, 0)
    assert (s["attempted"], s["failed"]) == (6, 1)
    assert s["ok_ratio"] == pytest.approx(5 / 6)


def test_median_by_key():
    assert stats.median_by_key([{"a": 1, "b": 5}, {"a": 3, "b": 0}, {"a": 2, "b": 1}]) == {"a": 2, "b": 1}


def test_fold_stages_from_recorded_payload():
    tot = stats.fold_stages(RECORDED_STAGES)
    assert tot["spark.stages"] == 5  # skipped stage out, repeated stage once
    assert tot["spark.tasks"] == 6
    assert tot["spark.failed_tasks"] == 1
    assert tot["spark.stage_retries"] == 1
    assert tot["spark.task_run_s"] == pytest.approx(0.210)
    assert tot["spark.task_cpu_s"] == pytest.approx(0.148946522)
    assert tot["spark.gc_s"] == pytest.approx(0.007)
    assert tot["spark.shuffle_write_bytes"] == 31099
    assert tot["spark.shuffle_read_bytes"] == 31099
    assert tot["spark.spill_bytes"] == 4096
    assert (tot["spark.input_bytes"], tot["spark.input_rows"]) == (16185, 76500)
    # Stages 8, 9 and 10 run 37 + 45 + 87 ms; 12 and 13 overlap, 175 ms.
    assert tot["spark.exec_s"] == pytest.approx(0.344)
    assert set(tot) <= set(OP_METRICS)


def test_interval_union_and_self_times():
    assert stats.interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.interval_union([]) == 0
    spans = [
        {"id": 0, "parent": None, "name": "cli.run_jobs", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "plans.build", "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "name": "streaming.run", "start": 2.0, "end": 6.0},
        {"id": 3, "parent": 1, "name": "sources.read_table", "start": 1.0, "end": 1.5},
        # A child that ends after its parent is clipped to the parent.
        {"id": 4, "parent": 0, "name": "sinks.png", "start": 9.0, "end": 12.0},
    ]
    own = stats.self_times(spans)
    assert own["cli.run_jobs"] == pytest.approx(10 - 5 - 1)
    assert own["plans.build"] == pytest.approx(1.5)
    assert own["streaming.run"] == pytest.approx(4.0)


def test_metric_names_are_valid_and_match_benchmark_json():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    names = [w["name"] for w in spec["workloads"]] + e2e + layers
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    assert e2e == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    emitted = set(OP_METRICS) | {
        "spark.busy_ratio",
        "session.start_s",
        "session.warmup_s",
        "session.jvm_peak_rss_mb",
        "session.python_peak_rss_mb",
        "trace.overhead_ratio",
    }
    assert set(layers) == emitted
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: run._layer_unit(n) for n in layers}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_seed_gives_a_deterministic_op_order():
    names = ["a", "b", "c", "d", "e"]
    first = stats.op_order(names, 7, 1)
    assert first == stats.op_order(names, 7, 1)
    assert sorted(first) == names
    assert names == ["a", "b", "c", "d", "e"]  # input left alone
    # Pinned, so the order is the same in every process and Python build.
    assert first == ["c", "d", "e", "b", "a"]
    orders = {tuple(stats.op_order(names, seed, 1)) for seed in range(20)}
    assert len(orders) > 10
    assert stats.run_key(3, 0) == stats.run_key(3, 0)
    assert len(stats.run_key(3, 0)) == 14 and stats.run_key(3, 0).startswith("2024")


def _png(width: int, height: int) -> bytes:
    def chunk(kind: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body)) + kind + body + struct.pack(">I", zlib.crc32(kind + body))

    raw = b"".join(b"\x00" + b"\x10\x20\x30" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_check(tmp_path):
    good = tmp_path / "good.png"
    good.write_bytes(_png(6, 3))
    assert png_error(str(good), (6, 3)) is None
    assert "expected 7x3" in png_error(str(good), (7, 3))
    broken = tmp_path / "broken.png"
    data = bytearray(_png(6, 3))
    data[-20] ^= 0xFF
    broken.write_bytes(bytes(data))
    assert png_error(str(broken), (6, 3)) is not None
