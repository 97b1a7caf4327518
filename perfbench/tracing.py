"""Traced-run instrumentation, all from outside the program.

Spans are timed around the benchmark's own calls into each layer, and
around the layer functions the program calls internally (`read_table`,
`events_stream`, `run_to_memory_sink`, `world_map_png` and the two ETL
builders inside `cli.run_jobs`). Those are reached by swapping the module
attributes for timing wrappers while a traced pass runs (`with tracer:`);
leaving the block puts the originals back. Spark's own counters come from
its public status APIs: a job group per op phase, `statusTracker()` for the
group's jobs, `statusStore().lastStageAttempt(id)` for each stage, and a
Python `StreamingQueryListener` for stream progress.

Spans and counters are kept in memory; `run.py` writes them once at the end.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.readwriter import DataStreamReader

from stats import fold_stages, self_times

PKG = "steam_prices_data_engineering_spark"

# Stream progress phases (durationMs keys) reported per layer metric.
_STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}

# Every per-op counter the tracer reports; an op that did not touch a layer
# reports 0 for it.
OP_METRICS = (
    "plans.build_s",
    "plans.build_jobs",
    "spark.plan_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.exec_s",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.gc_s",
    "spark.input_bytes",
    "spark.input_rows",
    "spark.failed_tasks",
    "spark.stage_retries",
    "sources.read_calls",
    "sources.read_s",
    "sources.reader_builds",
    "streaming.queries",
    "streaming.run_s",
    "streaming.triggers",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.query_planning_s",
    "streaming.wal_commit_s",
    "streaming.commit_offsets_s",
    "streaming.state_commit_s",
    "streaming.state_rows",
    "streaming.outside_trigger_s",
    "streaming.sink_tables_left",
    "sinks.png_s",
    "sinks.files_written",
    "sinks.bytes_written",
    "sinks.checkpoint_files",
    "cli.run_jobs_s",
    "cli.self_s",
)


class NullTracer:
    """Stands in for Tracer in untraced passes: no spans, no job groups."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, group=None):
        yield


class _StreamListener(StreamingQueryListener):
    """Collects start, progress and termination of every stream query.

    onQueryStarted runs synchronously inside `start()`, so the span open on
    the main thread at that moment is the stream's parent. Progress and
    termination arrive later on the listener bus thread."""

    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer
        self._lock = threading.Lock()
        self.runs: dict[str, dict] = {}

    def onQueryStarted(self, event):
        run = {
            "start": time.perf_counter(),
            "end": None,
            "parent": self._tracer.current_span(),
            "op": self._tracer.op,
            "progress": [],
        }
        with self._lock:
            self.runs[str(event.runId)] = run

    def onQueryProgress(self, event):
        p = event.progress
        state = [(s.commitTimeMs, s.numRowsTotal) for s in p.stateOperators]
        with self._lock:
            run = self.runs.get(str(p.runId))
            if run is not None:
                run["progress"].append((dict(p.durationMs), state))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            run = self.runs.get(str(event.runId))
            if run is not None:
                run["end"] = time.perf_counter()

    def take(self, op: int, timeout_s: float = 10.0) -> dict[str, dict]:
        """Runs started during `op`, once each has terminated (or the
        timeout passed); they are removed from the listener."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                mine = {k: r for k, r in self.runs.items() if r["op"] == op}
                if all(r["end"] is not None for r in mine.values()) or (
                    time.monotonic() > deadline
                ):
                    for k in mine:
                        del self.runs[k]
                    return mine
            time.sleep(0.02)


class Tracer:
    """Spans plus Spark status counters for the ops of traced passes."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._phase: str | None = None
        self._groups: set[str] = set()
        self._counts: dict[str, float] = {}
        self._reader_calls = 0
        self._patches: list[tuple[object, str, object]] = []
        self._listener = _StreamListener(self)

    def __enter__(self) -> "Tracer":
        """Start tracing: listener registered, layer functions wrapped."""
        self.spark.streams.addListener(self._listener)
        self._install()
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches = []
        self.spark.streams.removeListener(self._listener)

    # -- spans ------------------------------------------------------------

    def current_span(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block as a span; `group` ("build" or "exec") also tags the
        Spark jobs it runs with this op's job group for that phase."""
        sid = len(self.spans)
        rec = {"id": sid, "parent": self.current_span(), "op": self.op, "name": name}
        self.spans.append(rec)
        self._stack.append(sid)
        prev_phase = self._phase
        if group is not None:
            self._set_phase(group)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None and prev_phase is not None:
                self._set_phase(prev_phase)

    def _set_phase(self, phase: str) -> None:
        self._phase = phase
        group = f"perfbench-op{self.op}-{phase}"
        self._groups.add(group)
        self.sc.setJobGroup(group, group)

    def _count(self, key: str, value: float = 1) -> None:
        self._counts[key] = self._counts.get(key, 0) + value

    # -- ops --------------------------------------------------------------

    def begin_op(self, op: int) -> None:
        self.op = op
        self._phase = None
        self._groups = set()
        self._counts = {}

    def end_op(self, out_dir: str | None, views_left: int) -> dict:
        """Counters of the op that just ended, one value per OP_METRICS key."""
        op = self.op
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        runs = self._listener.take(op)
        for run in runs.values():
            if run["end"] is not None:
                self.spans.append(
                    {
                        "id": len(self.spans),
                        "parent": run["parent"],
                        "op": op,
                        "name": "streaming.run",
                        "start": run["start"],
                        "end": run["end"],
                    }
                )
        groups = self._groups | set(runs)
        jobs, stages = self._read_stages(groups)
        out = dict.fromkeys(OP_METRICS, 0)
        out.update(fold_stages(stages))
        out["spark.jobs"] = len(jobs)
        # A stream started inside a builder runs its jobs under its own run
        # id; those count as build jobs too.
        build_groups = {g for g in groups if g.endswith("-build")} | {
            rid for rid, run in runs.items() if self._inside(run["parent"], "plans.build")
        }
        out["plans.build_jobs"] = sum(1 for _, g in jobs if g in build_groups)
        out.update(self._counts)
        out.update(_stream_totals(runs.values()))
        out["streaming.sink_tables_left"] = views_left
        mine = [s for s in self.spans if s["op"] == op]
        for s in mine:
            dur = s["end"] - s["start"]
            if s["name"] == "plans.build":
                out["plans.build_s"] += dur
            elif s["name"] == "spark.plan":
                out["spark.plan_s"] += dur
            elif s["name"] == "sinks.png":
                out["sinks.png_s"] += dur
            elif s["name"] == "cli.run_jobs":
                out["cli.run_jobs_s"] += dur
        out["cli.self_s"] = self_times(mine).get("cli.run_jobs", 0.0)
        if out_dir is not None:
            out.update(_dir_counts(out_dir))
        self.op = None
        return out

    def _inside(self, span_id: int | None, name: str) -> bool:
        while span_id is not None:
            if self.spans[span_id]["name"] == name:
                return True
            span_id = self.spans[span_id]["parent"]
        return False

    def _read_stages(self, groups: set[str]) -> tuple[list, list[dict]]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = []
        for g in sorted(groups):
            jobs.extend((j, g) for j in tracker.getJobIdsForGroup(g))
        # Stage counters are final once the listener bus has processed the
        # job end, which the tracker shows as a final job status.
        deadline = time.monotonic() + 10.0
        infos = {}
        for j, _ in jobs:
            info = tracker.getJobInfo(j)
            while info is not None and info.status in ("RUNNING", "UNKNOWN"):
                if time.monotonic() > deadline:
                    break
                time.sleep(0.02)
                info = tracker.getJobInfo(j)
            infos[j] = info
        stages = []
        seen = set()
        for info in infos.values():
            if info is None:
                continue
            for sid in list(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    stages.append(_stage_record(store.lastStageAttempt(sid)))
                except Py4JJavaError:
                    pass  # dropped from the store by its retention limit
        return jobs, stages

    # -- wrappers around layer functions called inside the program --------

    def _install(self) -> None:
        from steam_prices_data_engineering_spark import cli
        from steam_prices_data_engineering_spark.plans import pipelines
        from steam_prices_data_engineering_spark.sinks import png
        from steam_prices_data_engineering_spark.sources import tables
        from steam_prices_data_engineering_spark.streaming import windows

        everywhere = [
            (tables.read_table, self._wrap_source(tables.read_table, "sources.read_table")),
            (tables.events_stream, self._wrap_source(tables.events_stream, "sources.events_stream")),
            (windows.run_to_memory_sink, self._wrap(windows.run_to_memory_sink, "streaming.run_to_memory_sink")),
            (png.world_map_png, self._wrap(png.world_map_png, "sinks.png")),
        ]
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]:
            for attr, value in list(vars(mod).items()):
                for original, wrapper in everywhere:
                    if value is original:
                        self._patch(mod, attr, wrapper)
        # The ETL builders are wrapped only where cli.run_jobs calls them;
        # elsewhere the benchmark's own build span already covers them.
        for fn in (pipelines.steam_job1_prices_etl, pipelines.world_map_job2_deviation):
            self._patch(cli, fn.__name__, self._wrap(fn, "plans.build", group="build"))
        self._patch(DataFrameReader, "parquet", self._count_calls(DataFrameReader.parquet))
        self._patch(DataStreamReader, "load", self._count_calls(DataStreamReader.load))

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, fn, name: str, group: str | None = None):
        @functools.wraps(fn)
        def call(*a, **kw):
            with self.span(name, group=group):
                return fn(*a, **kw)

        return call

    def _wrap_source(self, fn, name: str):
        """Span plus counters: calls, seconds, and calls that built a fresh
        reader (a reader method ran inside them, i.e. a memo miss)."""

        @functools.wraps(fn)
        def call(*a, **kw):
            before = self._reader_calls
            t0 = time.perf_counter()
            try:
                with self.span(name):
                    return fn(*a, **kw)
            finally:
                self._count("sources.read_calls")
                self._count("sources.read_s", time.perf_counter() - t0)
                if self._reader_calls > before:
                    self._count("sources.reader_builds")

        return call

    def _count_calls(self, method):
        @functools.wraps(method)
        def call(*a, **kw):
            self._reader_calls += 1
            return method(*a, **kw)

        return call


def _stage_record(sd) -> dict:
    """The fields fold_stages reads, from one py4j StageData."""
    submit, done = sd.submissionTime(), sd.completionTime()
    return {
        "stage_id": sd.stageId(),
        "attempt": sd.attemptId(),
        "status": sd.status().toString(),
        "num_tasks": sd.numTasks(),
        "num_failed_tasks": sd.numFailedTasks(),
        "run_ms": sd.executorRunTime(),
        "cpu_ns": sd.executorCpuTime(),
        "gc_ms": sd.jvmGcTime(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "input_bytes": sd.inputBytes(),
        "input_rows": sd.inputRecords(),
        "submit_ms": submit.get().getTime() if submit.isDefined() else None,
        "done_ms": done.get().getTime() if done.isDefined() else None,
    }


def _stream_totals(runs) -> dict:
    out = dict.fromkeys(
        ["streaming.queries", "streaming.run_s", "streaming.triggers", *_STREAM_PHASES.values()]
        + ["streaming.state_commit_s", "streaming.state_rows"],
        0,
    )
    for run in runs:
        out["streaming.queries"] += 1
        if run["end"] is not None:
            out["streaming.run_s"] += run["end"] - run["start"]
        out["streaming.triggers"] += len(run["progress"])
        for durations, state in run["progress"]:
            for phase, key in _STREAM_PHASES.items():
                out[key] += durations.get(phase, 0) / 1e3
            out["streaming.state_commit_s"] += sum(c for c, _ in state) / 1e3
        if run["progress"]:
            out["streaming.state_rows"] += sum(n for _, n in run["progress"][-1][1])
    out["streaming.outside_trigger_s"] = out["streaming.run_s"] - out["streaming.trigger_s"]
    return out


def _dir_counts(root: str) -> dict:
    """Files and bytes an ETL op left under its output root; checkpoint
    files are counted apart from the landings."""
    files = size = ckpt = 0
    for dirpath, _, names in os.walk(root):
        in_ckpt = os.sep + "_checkpoints" in dirpath[len(root):]
        for n in names:
            if in_ckpt:
                ckpt += 1
            else:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return {"sinks.files_written": files, "sinks.bytes_written": size, "sinks.checkpoint_files": ckpt}
