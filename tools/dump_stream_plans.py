"""Dump the physical plans of the streaming queries a builder starts.

Usage:
    python tools/dump_stream_plans.py OUT_DIR SF_DIR NAME [NAME ...]

NAME is a registered query, or `etl_job3` for the checkpointed events
rollup that `cli.run_jobs` starts as job 3. Every `writeStream.start()`
the builder makes is captured, and its last executed plan (explain
extended) is written to `OUT_DIR/<NAME>.txt`. The state operators' lines
carry `numPartitions`. Run ids, checkpoint paths, scratch dirs,
expression and plan ids, wall-clock batch timestamps and SF_DIR are
masked, so two checkouts' dumps diff cleanly.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql.streaming.readwriter import DataStreamWriter  # noqa: E402

from steam_prices_data_engineering_spark.session import get_spark  # noqa: E402

_MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(rf"(file:)?{re.escape(tempfile.gettempdir())}/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"_[0-9a-f]{8}\b"), "_<id>"),
    (re.compile(r"@[0-9a-f]+\b"), "@<obj>"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # the wall-clock batch timestamp (ms) that the (flat)MapGroupsWithState
    # operators print right after their timeout conf
    (re.compile(r"(Timeout, )\d+"), r"\1<batch-ms>"),
]


def _mask(text: str) -> str:
    for pat, repl in _MASKS:
        text = pat.sub(repl, text)
    return text


def _run(spark, name: str, sf_dir: str, scratch: str) -> None:
    if name == "etl_job3":
        from steam_prices_data_engineering_spark.cli import run_jobs

        out = os.path.join(scratch, "etl")
        run_jobs(
            {
                "source": {"sf_dir": sf_dir},
                "target": {
                    "output_dir": out,
                    "prices_key": "steam_etl",
                    "worldmap_key": "world_map",
                },
                "streaming": {"enabled": True},
            },
            spark=spark,
            run_ts="20240101000000",
        )
    else:
        from steam_prices_data_engineering_spark.plans import registry

        registry.queries()[name](spark, sf_dir)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)

    sf_dir = os.path.abspath(args.sf_dir)
    started = []
    start = DataStreamWriter.start

    def capture(self, *a, **kw):
        q = start(self, *a, **kw)
        started.append(q)
        return q

    DataStreamWriter.start = capture
    spark = get_spark(app_name="dump-stream-plans")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as scratch:
        for name in args.names:
            started.clear()
            _run(spark, name, args.sf_dir, scratch)
            plans = [
                _mask(q._jsq.explainInternal(True)).replace(sf_dir, "<sf_dir>")
                for q in started
            ]
            path = os.path.join(args.out_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write("\n\n".join(plans))
            print(f"wrote {path} ({len(plans)} streaming queries)")
    spark.stop()


if __name__ == "__main__":
    main()
