"""Time-window aggregations over the events stream (SURVEY.md §2b).

Batch-first: `F.window` / `F.session_window` work identically on static
DataFrames, which is what makes these oracle-checkable in DuckDB (tumbling =
epoch bucketing; session = gaps-and-islands SQL). The streaming wrappers call
the same batch functions on the watermarked events stream and drain it with
an availableNow trigger through `run_to_memory_sink` — with a single replayed
batch no rows are late, so the result must equal the batch plan (the
driver's oracle can therefore check the streaming path too).
`purchase_error_join` is the one stream-stream interval join over the same
source.

Window starts are returned as epoch seconds (long), not timestamps — the
cross-engine value-hash is type-sensitive and epoch longs are unambiguous.
"""

from __future__ import annotations

import logging
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..sources.tables import events_stream, table_path

log = logging.getLogger("steam_prices_spark")


def tumbling_counts(events: DataFrame, duration: str = "10 minutes") -> DataFrame:
    """Per (tumbling window, event_type): count + sum(value)."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, duration: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Per sliding window: count + avg(value); each event lands in
    duration/slide windows."""
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per (user, session): session bounds + event count + value sum, where a
    session closes after `gap` of inactivity (F.session_window)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_state_partitions(
    events_path: str | None,
    floor: int = 4,
    cap: int = 512,
    rows_per_partition: int = 50_000,
) -> str:
    """Scale-adaptive state-store partition count for a stateful stream
    over `events_path` (VERDICT r10 next-round #8: derive from data, not
    a local constant).

    Derivation: parquet footer num_rows (a metadata read, no Spark job —
    stream starts stay cheap) divided by ~50k rows per state partition,
    next power of two, clamped to [floor, cap]. Rationale: state keys
    (windows x small dims) grow sublinearly with rows, and mostly-empty
    state partitions are pure commit I/O (the round-8 lesson, 18.2s ->
    3.1s); 50k rows/partition reproduces the measured-optimal floor=4 on
    every local sf (sf0.1 events = 100k rows -> 4) while a 1e9-row
    landing derives 512. SPARK_GRAFT_STREAM_STATE_PARTITIONS still
    overrides everything for cluster tuning."""
    import glob
    import math
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        return env
    n_rows = 0
    if events_path and os.path.exists(events_path):
        files = (
            sorted(glob.glob(os.path.join(events_path, "*.parquet")))
            if os.path.isdir(events_path)
            else [events_path]
        )
        try:
            n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        except (OSError, pa.ArrowInvalid) as e:
            log.warning(
                "state partitions: footer read of %s failed (%s); "
                "using floor %d",
                events_path,
                e,
                floor,
            )
            n_rows = 0
    if n_rows <= 0:
        return str(floor)
    want = max(1, math.ceil(n_rows / rows_per_partition))
    parts = 1 << max(0, (want - 1).bit_length())
    return str(min(max(parts, floor), cap))


# Serializes the set -> start() -> restore window below. The conf is
# session-global, so two unguarded windows on one session interleave:
# one thread's restore lands between the other's set and start().
_SHUFFLE_CONF_LOCK = threading.Lock()


@contextmanager
def stateful_start(spark, parts=None):
    """Start a stateful stream with `parts` state-store partitions
    (None: the session's count, still started under the lock).

    Run `writeStream...start()` inside this block. Spark clones the
    session conf into the query when `start()` runs, and the first
    batch pins `spark.sql.shuffle.partitions` into the checkpoint's
    offset metadata, so the count holds for the query's whole life
    (and a restarted checkpoint keeps its first run's count whatever
    `parts` says). The session value is restored on exit, so batch
    plans are untouched; the lock makes the window safe for concurrent
    starts on one session. Await termination outside the block."""
    with _SHUFFLE_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts or prev))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory_sink(
    df: DataFrame,
    prefix: str,
    mode: str = "complete",
    checkpoint: str | None = None,
    events_path: str | None = None,
    floor: int = 4,
) -> DataFrame:
    """Drain a stream to completion (availableNow) into a memory sink and
    return the result frame. The sink's temp view is dropped before
    returning: the frame's plan holds the sink itself, so it still reads
    the rows, and a long-lived session keeps no table per run.

    This is the one place the package starts a memory-sink stream. With
    `events_path` the state store is sized from that parquet landing's
    footer (`stream_state_partitions(events_path, floor)`): windowed
    aggregates key on a handful of (window, dim) values, so the session
    default (32) makes every micro-batch commit mostly-empty state files
    (the round-8 streaming_join_then_window lesson, 18.2s -> 3.1s;
    enriched tumbling agg 1.95s -> ~1.3s at sf0.1). Without it the
    stream runs at the session's count. Either way `start()` runs inside
    `stateful_start`, so a concurrent sized start on the same session
    cannot leak its count into this one. `checkpoint` keeps state across
    runs; the first run pins the count. Partition count never reaches
    compared columns."""
    parts = stream_state_partitions(events_path, floor) if events_path else None
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    spark = df.sparkSession
    with stateful_start(spark, parts):
        q = writer.start()
    try:
        q.awaitTermination()
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)


def streaming_tumbling_counts(
    spark,
    sf_dir: str,
    duration: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """`tumbling_counts` on the watermarked events stream, drained with
    availableNow into a memory sink."""
    stream = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return run_to_memory_sink(
        tumbling_counts(stream, duration),
        "stream_tumble",
        events_path=table_path(sf_dir, "events"),
    )


def streaming_sliding_counts(
    spark,
    sf_dir: str,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """`sliding_counts` on the watermarked events stream: each event
    enters duration/slide overlapping windows; state holds one row per
    open window and the watermark bounds how long a window stays open.
    With a single availableNow replay nothing is late, so the result
    equals the batch sliding plan and the batch oracle applies."""
    stream = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return run_to_memory_sink(
        sliding_counts(stream, duration, slide),
        "stream_slide",
        events_path=table_path(sf_dir, "events"),
    )


def streaming_static_enriched_counts(
    spark,
    sf_dir: str,
    dim: DataFrame,
    duration: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static broadcast enrichment: the events stream left-joined
    to a STATIC dimension (user_id = c_custkey) before a tumbling
    aggregate — the standard enrich-then-window topology. The static
    side is stateless (re-read per micro-batch, broadcast-sized dim);
    stream state is only the windowed aggregate, bounded by the
    watermark. With one availableNow replay nothing is late, so the
    batch LEFT JOIN + GROUP BY oracle applies (the
    streaming_tumbling_counts equivalence contract)."""
    stream = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "left"
    )
    agg = (
        joined.groupBy(
            F.window("ts", duration).alias("w"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # INTEGER micro-unit accumulation (the rolling_origin_backtest
            # rule): a float sum feeding a dround-compared output can land
            # on a 1e-4 half-boundary and flip between the state-store
            # accumulation order and the batch oracle's sum order; long
            # sums are order-free, one float division at the end.
            F.sum(
                F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
            ).alias("_sv_micro"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "segment",
            "n_events",
            dround(
                F.col("_sv_micro").cast("double") / F.lit(1000000.0), 4
            ).alias("sum_value"),
        )
    )
    return run_to_memory_sink(
        agg, "stream_enrich", events_path=table_path(sf_dir, "events")
    )


def purchase_error_join(spark, sf_dir: str, how: str = "inner") -> DataFrame:
    """Stream-stream interval join of each purchase (p_user, p_ts,
    p_value) to the errors (e_user, e_ts) the same user raised within the
    following 10 minutes. Both sides carry a 1-hour watermark, so the
    time-range condition bounds the join state on each side; `how` picks
    the join type, and each caller selects its own output."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    return purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 MINUTES")),
        how,
    )
