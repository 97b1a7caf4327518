"""Session config lives in one dict, `session.RUNTIME_CONF`: a session
`get_spark` builds and a session `configure_session` is handed both read
back every key of it."""

from __future__ import annotations

import logging

import pytest

from steam_prices_data_engineering_spark.session import (
    RUNTIME_CONF,
    configure_session,
    get_spark,
)

SHUFFLE_KEY = "spark.sql.shuffle.partitions"


@pytest.fixture
def restore_shuffle(spark):
    """configure_session resets the shared test session's shuffle count."""
    prev = spark.conf.get(SHUFFLE_KEY)
    yield spark
    spark.conf.set(SHUFFLE_KEY, prev)


def test_runtime_conf_reads_back_after_get_spark_and_configure_session(
    restore_shuffle,
):
    # the conftest session's own arguments: get_spark re-applies them
    spark = get_spark(app_name="tests", shuffle_partitions="8")
    for k, v in RUNTIME_CONF.items():
        assert spark.conf.get(k) == ("8" if k == SHUFFLE_KEY else v), k
    configure_session(spark)
    for k, v in RUNTIME_CONF.items():
        assert spark.conf.get(k) == v, k


def test_configure_session_logs_a_conf_it_cannot_change(
    restore_shuffle, monkeypatch, caplog
):
    static = "spark.sql.warehouse.dir"
    before = restore_shuffle.conf.get(static)
    monkeypatch.setitem(RUNTIME_CONF, static, "/nonexistent-warehouse")
    with caplog.at_level(logging.WARNING, logger="steam_prices_spark"):
        configure_session(restore_shuffle)
    assert restore_shuffle.conf.get(static) == before
    assert any(static in r.getMessage() for r in caplog.records)
    assert restore_shuffle.conf.get(SHUFFLE_KEY) == RUNTIME_CONF[SHUFFLE_KEY]
