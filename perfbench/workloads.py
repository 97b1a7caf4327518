"""The workloads and how one op of each runs.

An op is one call a user of the engine makes: a registered query built,
planned, executed and collected to the driver (`heavy_batch`, `short_ops`),
or one whole `cli.run_jobs` ETL chain (`etl_chain`). Before every op the
session is put back in the same state (`Bench.isolate`), so each op does
the same work whatever ran before it.
"""

from __future__ import annotations

import copy
import os
import time

import yaml

from stats import run_key

# Shuffle-bound queries over the candidate generators (posting-list pairs in
# operators/similarity.py, LSH and dedup in operators/dedup.py, the setjoin
# length filter): 20 to 90 stages each, no stream and no sink.
HEAVY_BATCH = (
    "item_cf_holdout_hitrate",
    "item_item_cosine",
    "lsh_recall_empirical",
    "dedup_pipeline_report",
    "setjoin_prefix_filter",
)

# Short queries whose cost is mostly fixed per op (builder py4j calls,
# Catalyst, job scheduling), plus four memory-sink streams whose start and
# commit cost does not depend on data size.
SHORT_OPS = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q6_revenue_forecast",
    "tpch_q13_customer_distribution",
    "tpch_q21_sole_late_supplier",
    "flagship_nation_price_dev",
    "window_max_fill",
    "token_topk",
    "dedup_exact_groups",
    "steam_job1_prices_etl",
    "world_map_job2_deviation",
    "moments_skew_kurtosis",
    "rfm_segments",
    "events_session_window",
    "ohlc_bars",
    "session_ids_batch",
    "cms_heavy_hitters",
    "scd2_purchase_history",
    "attribution_last_touch",
    "streaming_enriched_tumbling_agg",
    "streaming_join_then_window",
    "streaming_restart_carryover",
    "streaming_state_introspection",
)

ETL_OP = "cli.run_jobs"

WORKLOADS = {
    "etl_chain": (ETL_OP,),
    "heavy_batch": HEAVY_BATCH,
    "short_ops": SHORT_OPS,
}


class Bench:
    """One session, one fixture and one seed; runs ops and keeps what the
    output check needs."""

    def __init__(self, spark, root: str, work: str, sf_dir: str, seed: int):
        from steam_prices_data_engineering_spark import cli
        from steam_prices_data_engineering_spark.plans import registry

        self.spark = spark
        self.work = work
        self.sf_dir = sf_dir
        self.seed = seed
        self.queries = registry.queries()
        self.oracle_sql = registry.oracle_sql()
        self._cli = cli
        with open(os.path.join(root, "configs", "etl_config.yml")) as f:
            self._etl_config = yaml.safe_load(f)
        self._next_op = 0

    def temp_views(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables() if t.isTemporary]

    def isolate(self) -> None:
        """Clear cached plans, stop stray streams, drop leftover views (the
        memory-sink tables streams register)."""
        self.spark.catalog.clearCache()
        for q in self.spark.streams.active:
            q.stop()
        for name in self.temp_views():
            self.spark.catalog.dropTempView(name)

    def run_op(self, name: str, tracer) -> dict:
        """Isolate, then run and time one op. The record holds the latency,
        the error if it raised, and the output for the check."""
        self.isolate()
        index = self._next_op
        self._next_op += 1
        if tracer.enabled:
            tracer.begin_op(index)
        rec = {"name": name, "index": index, "error": None, "out_dir": None}
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                if name == ETL_OP:
                    self._etl_op(rec, tracer)
                else:
                    self._query_op(rec, tracer)
        except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
        rec["s"] = time.perf_counter() - t0
        if "frame" in rec:
            # Read after timing: one py4j call, not part of the op.
            rec["columns"] = rec.pop("frame").columns
        if tracer.enabled:
            rec["layers"] = tracer.end_op(rec["out_dir"], len(self.temp_views()))
        return rec

    def _query_op(self, rec: dict, tracer) -> None:
        fn = self.queries[rec["name"]]
        with tracer.span("plans.build", group="build"):
            df = fn(self.spark, self.sf_dir)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.collect", group="exec"):
            rec["rows"] = df.collect()
        rec["frame"] = df

    def _etl_op(self, rec: dict, tracer) -> None:
        out = os.path.join(self.work, f"etl-{rec['index']}")
        config = copy.deepcopy(self._etl_config)
        config["source"]["sf_dir"] = self.sf_dir
        config["target"]["output_dir"] = out
        fmt = config["target"].get("run_key_date_format", "%Y%m%d%H%M%S")
        rec["run_key"] = run_key(self.seed, rec["index"], fmt)
        rec["out_dir"] = out
        with tracer.span("cli.run_jobs", group="exec"):
            rec["outputs"] = self._cli.run_jobs(config, spark=self.spark, run_ts=rec["run_key"])
