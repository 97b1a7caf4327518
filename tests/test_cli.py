"""End-to-end test of the config-driven job runner (cli.py — the run.py
equivalent): both jobs land run-partitioned parquet, a second run appends a
new partition, and the latest-run selection reads back exactly one run.
"""

from __future__ import annotations

import shutil

import yaml

from pyspark.sql import functions as F

from steam_prices_data_engineering_spark import SCRATCH_DIR
from steam_prices_data_engineering_spark.cli import run_jobs

CONFIG = {
    "app_name": "cli-test",
    "source": {"sf_dir": "/root/testdata/sf0.001"},
    "target": {
        "output_dir": f"{SCRATCH_DIR}/cli_test_out",
        "prices_key": "steam_etl",
        "worldmap_key": "world_map",
    },
}


def test_cli_runs_both_jobs_with_run_partitions(spark):
    shutil.rmtree(CONFIG["target"]["output_dir"], ignore_errors=True)
    out1 = run_jobs(CONFIG, spark=spark, run_ts="20240101000000")
    out2 = run_jobs(CONFIG, spark=spark, run_ts="20240102000000")
    # Table roots are run-independent (runs append partitions under them);
    # the PNG artifact (S8) is one file PER run.
    assert out1["prices"] == out2["prices"]
    assert out1["worldmap"] == out2["worldmap"]
    assert out1["worldmap_png"] != out2["worldmap_png"]
    for out in (out1, out2):
        blob = open(out["worldmap_png"], "rb").read()
        assert blob.startswith(b"\x89PNG\r\n\x1a\n")

    prices = spark.read.parquet(out1["prices"])
    # Reference schema (etl_config.yml:40) + the run partition column.
    assert set(prices.columns) == {
        "app", "country_iso", "currency_steam", "usd_price", "run_key",
    }
    assert prices.select("run_key").distinct().count() == 2

    # Latest-run selection (S6/O32): max run_key, partition-pruned read.
    latest = prices.agg(F.max("run_key").alias("k")).collect()[0].k
    # Partition-column type inference yields a long for all-digit keys.
    assert str(latest) == "20240102000000"
    one_run = prices.filter(F.col("run_key") == latest)
    assert one_run.count() == prices.count() / 2

    worldmap = spark.read.parquet(out1["worldmap"])
    assert "usd_dif" in worldmap.columns and "steam_value" in worldmap.columns
    assert worldmap.filter(F.col("run_key") == latest).count() == 14


def test_cli_streaming_rollup_incremental_and_idempotent(spark):
    """Job 3: the streaming rollup lands append-mode windowed counts in
    parquet behind a checkpoint. Emitted rows must equal the batch
    tumbling aggregation restricted to window_end <= watermark (the
    append-mode emission rule), and a SECOND invocation over the same
    source must process zero new files (checkpoint: no duplicate rows).
    The state store is sized from the events footer, not from the
    session's shuffle partitions, and the session conf is left as it was."""
    import shutil

    from steam_prices_data_engineering_spark.sources.tables import (
        read_table,
        table_path,
    )
    from steam_prices_data_engineering_spark.streaming.windows import (
        stream_state_partitions,
        tumbling_counts,
    )

    cfg = {
        "app_name": "cli-stream-test",
        "source": {"sf_dir": "/root/testdata/sf0.001"},
        "target": {
            "output_dir": f"{SCRATCH_DIR}/cli_stream_out",
            "prices_key": "steam_etl",
            "worldmap_key": "world_map",
        },
        "streaming": {"enabled": True},
    }
    shutil.rmtree(cfg["target"]["output_dir"], ignore_errors=True)
    conf_before = spark.conf.get("spark.sql.shuffle.partitions")
    derived = int(
        stream_state_partitions(table_path(cfg["source"]["sf_dir"], "events"))
    )
    assert str(derived) != conf_before
    out = run_jobs(cfg, spark=spark, run_ts="20240101000000")
    assert _state_partitions(spark, cfg["target"]["output_dir"])[0] == derived
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf_before
    landed = spark.read.parquet(out["events_rollup"].replace("file://", ""))
    n1 = landed.count()

    ev = read_table(spark, cfg["source"]["sf_dir"], "events")
    wm = ev.agg(F.max("ts").cast("long").alias("m")).collect()[0].m - 3600
    expected = (
        tumbling_counts(ev)
        .filter((F.col("window_start") + 600) <= wm)
    )
    exp_rows = {tuple(r) for r in expected.collect()}
    got_rows = {tuple(r) for r in landed.collect()}
    assert got_rows == exp_rows, (len(got_rows), len(exp_rows))

    # second run: checkpoint says everything is processed -> no new rows
    run_jobs(cfg, spark=spark, run_ts="20240102000000")
    n2 = spark.read.parquet(
        out["events_rollup"].replace("file://", "")
    ).count()
    assert n2 == n1


def _stream_cfg(sf_dir, out_dir):
    return {
        "app_name": "cli-stream-test",
        "source": {"sf_dir": sf_dir},
        "target": {
            "output_dir": str(out_dir),
            "prices_key": "steam_etl",
            "worldmap_key": "world_map",
        },
        "streaming": {"enabled": True},
    }


def _state_partitions(spark, out_dir):
    """(numPartitions, maxBatchId) of job 3's one stateful operator, as
    its checkpoint records them."""
    (row,) = (
        spark.read.format("state-metadata")
        .load(f"{out_dir}/_checkpoints/events_rollup")
        .collect()
    )
    return row.numPartitions, row.maxBatchId


def test_cli_stream_checkpoint_keeps_its_first_state_count(
    spark, tmp_path, monkeypatch
):
    """A job-3 checkpoint created at 32 state partitions resumes at 32
    under the footer-derived default, carries its state into the second
    run and lands every window exactly once. The events are split in
    time over two source dirs: run 1 reads the early half, run 2 (same
    checkpoint) the late half, so run 2 really executes batches."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from conftest import SF_DIR

    from steam_prices_data_engineering_spark.sources.tables import read_table
    from steam_prices_data_engineering_spark.streaming.windows import (
        tumbling_counts,
    )

    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    ts = pc.cast(events["ts"], "int64")
    cut = pc.approximate_median(ts)
    halves = {
        "early": events.filter(pc.less(ts, cut)),
        "late": events.filter(pc.greater_equal(ts, cut)),
    }
    dirs = {}
    for half, table in halves.items():
        d = tmp_path / half
        d.mkdir()
        for name in os.listdir(SF_DIR):
            if name != "events.parquet":
                os.symlink(os.path.join(SF_DIR, name), d / name)
        pq.write_table(table, d / "events.parquet")
        dirs[half] = str(d)
    out = tmp_path / "out"

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "32")
    run_jobs(_stream_cfg(dirs["early"], out), spark=spark, run_ts="20240101000000")
    parts1, batch1 = _state_partitions(spark, out)
    assert parts1 == 32

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    landed = run_jobs(
        _stream_cfg(dirs["late"], out), spark=spark, run_ts="20240102000000"
    )["events_rollup"]
    parts2, batch2 = _state_partitions(spark, out)
    assert parts2 == 32 and batch2 > batch1

    ev = read_table(spark, SF_DIR, "events")
    wm = ev.agg(F.max("ts").cast("long").alias("m")).collect()[0].m - 3600
    expected = tumbling_counts(ev).filter((F.col("window_start") + 600) <= wm)
    got = sorted(tuple(r) for r in spark.read.parquet(landed).collect())
    assert got == sorted(tuple(r) for r in expected.collect())
