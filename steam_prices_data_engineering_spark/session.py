"""SparkSession builder tuned for this engine.

The reference (`/root/reference/run.py:17-67`) is a single-threaded pandas
process; here the equivalent entry point is one shared SparkSession with
scale-oriented defaults:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) so the
  same code survives a 100x scale-up without manual re-tuning.
- `spark.sql.shuffle.partitions` sized for the local test harness (32 cores);
  on a real cluster this is overridden by config/AQE.
- Every runtime-settable default lives in ONE dict, `RUNTIME_CONF`, which
  both a session we build and a session handed to us receive.
- Session timezone pinned to UTC so timestamp arithmetic matches the DuckDB
  oracle (which treats naive parquet timestamps as-is).
- ANSI mode off: the reference's semantics are "parse failure -> NULL row"
  (`steam_prices_transformer.py:130-132`), i.e. permissive casts, not errors.
  We still use `try_cast`/`try_divide` explicitly in fragile expressions.
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

log = logging.getLogger("steam_prices_spark")

# Runtime-settable engine defaults. `get_spark` builds them into a new
# session; `configure_session` sets them on a session it did not build.
RUNTIME_CONF = {
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-size the partitioning of plans materialized INTO the
    # cache (off by default): a dimension-grain .cache() otherwise
    # freezes at spark.sql.shuffle.partitions, so every downstream
    # stage over a tiny cached frame schedules 32 tasks; at cluster
    # scale the same flag lets AQE size cache partitions by bytes.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # Legacy INT96 timestamps carry NO parquet min/max statistics, which
    # silently disables file/row-group skipping on every date predicate
    # over landed tables; micros carry full stats (tests/test_sinks.py).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # events.parquet may store TIMESTAMP(NANOS), which Spark's reader
    # rejects; read as long and convert ns->us in the IO layer (DuckDB
    # truncates ns->us identically, keeping the oracle aligned).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# The error conditions Spark raises for a conf it cannot change at runtime.
_NOT_RUNTIME = {"CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"}


def get_spark(
    app_name: str = "steam-prices-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Env overrides: SPARK_GRAFT_CPUS,
    SPARK_GRAFT_SHUFFLE_PARTITIONS, SPARK_GRAFT_DRIVER_MEMORY."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = {
        "spark.driver.memory": driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
        "spark.executor.extraJavaOptions": "-Duser.timezone=UTC",
        **RUNTIME_CONF,
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = shuffle_partitions
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply `RUNTIME_CONF` to a session built elsewhere (e.g. the one
    `__spark_entry__` is handed; we can't rebuild its JVM). A conf this build refuses to
    change at runtime keeps its value and is logged; any other error
    propagates."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            if e.getCondition() not in _NOT_RUNTIME:
                raise
            log.warning("configure_session: %s stays at its value (%s)", k, e)
    return spark
