"""Memory-sink lifecycle on a long-lived session.

`streaming/windows.py:run_to_memory_sink` drains a stream into a memory
sink and returns the result frame. Running memory-sink queries again and
again on one session must leave no temp view and no active stream behind,
and every returned frame must still read its rows.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from steam_prices_data_engineering_spark.plans import registry

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from conftest import SF_DIR  # noqa: E402
from tools.check_oracle import compare  # noqa: E402

QUERIES = (
    "streaming_tumbling_window",  # sized state, complete mode
    "streaming_interval_join",  # stream-stream join, append mode
    "streaming_restart_carryover",  # two runs over one checkpoint
)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _oracle(name: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    rel = con.execute(registry.oracle_sql()[name])
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    con.close()
    return rows, cols


@pytest.mark.parametrize("name", QUERIES)
def test_memory_sink_queries_leave_no_view_or_stream(spark, name):
    rows, cols = _oracle(name)
    before = _temp_views(spark)
    for _ in range(2):
        df = registry.queries()[name](spark, SF_DIR)
        assert _temp_views(spark) == before
        assert spark.streams.active == []
        err = compare(name, df, rows, cols)
        assert err is None, err
