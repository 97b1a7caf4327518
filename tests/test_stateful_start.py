"""Concurrent stateful-stream starts on one session.

`streaming/windows.py:stateful_start` sets the session-global
`spark.sql.shuffle.partitions` around `writeStream.start()`. Threads
starting streams on one session must each get the state-partition count
they asked for, leave the session value where it was, and produce
oracle-equal results.
"""

from __future__ import annotations

import os
import sys
import threading
import uuid

import duckdb

from steam_prices_data_engineering_spark.plans import registry
from steam_prices_data_engineering_spark.sources.tables import events_stream
from steam_prices_data_engineering_spark.streaming.windows import (
    stateful_start,
    tumbling_counts,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from conftest import SF_DIR  # noqa: E402
from tools.check_oracle import compare  # noqa: E402

ROUNDS = 2


def _oracle():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    rel = con.execute(registry.oracle_sql()["streaming_tumbling_window"])
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    con.close()
    return rows, cols


def _run_stream(spark, parts: int, barrier: threading.Barrier):
    agg = tumbling_counts(events_stream(spark, SF_DIR).withWatermark("ts", "1 hour"))
    sink = f"concurrent_{parts}_{uuid.uuid4().hex[:8]}"
    barrier.wait()  # line both threads up on the conf window
    with stateful_start(spark, parts):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    got = q.lastProgress["stateOperators"][0]["numShufflePartitions"]
    return got, sink


def test_concurrent_stateful_starts_keep_their_counts(spark):
    start_value = spark.conf.get("spark.sql.shuffle.partitions")
    oracle_rows, oracle_cols = _oracle()
    # more threads than cores, each asking for its own count
    asked = (2, 3, 5, 6, 7)
    assert start_value not in {str(p) for p in asked}
    barrier = threading.Barrier(len(asked))
    results: dict[int, list] = {p: [] for p in asked}
    errors: list[BaseException] = []

    def worker(parts):
        try:
            for _ in range(ROUNDS):
                results[parts].append(_run_stream(spark, parts, barrier))
        except BaseException as e:  # noqa: BLE001 - re-raised on the main thread
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=worker, args=(p,)) for p in asked]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors

    assert spark.conf.get("spark.sql.shuffle.partitions") == start_value
    for parts, runs in results.items():
        assert [got for got, _ in runs] == [parts] * ROUNDS, (parts, runs)
        for _, sink in runs:
            err = compare(sink, spark.table(sink), oracle_rows, oracle_cols)
            assert err is None, err
            spark.catalog.dropTempView(sink)
