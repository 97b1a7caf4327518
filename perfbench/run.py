"""Benchmark of the engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_chain --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the repository. Set-up starts the
session on local[nproc] (or $SPARK_GRAFT_CPUS) and runs one warm-up pass;
then whole passes over the workload's ops, each in a seeded order, run in a
closed loop with one client until --seconds have passed (fewer on a slow
machine, see RUN_CAP_S). The outputs of
every timed op are checked afterwards, untimed. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). The
machine record goes to stderr; a traced run also writes its spans under
.perfbench_out/. Exits non-zero without a result if the engine is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

from checks import Checker
from stats import median_by_key, op_order, summarize_passes
from tracing import OP_METRICS, NullTracer, Tracer
from workloads import WORKLOADS, Bench

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
PKG = "steam_prices_data_engineering_spark"
# Start no further pass once one more (as long as the last) would end more
# than this many seconds after process start: on a slow machine a run then
# measures fewer passes instead of running over its time budget.
RUN_CAP_S = 65.0

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "ok_ratio": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started (its start time from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> dict[str, int]:
    """Machine-wide CPU ticks by state from /proc/stat; the change over a
    run shows how much time other work and the hypervisor (steal) took."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), map(int, fields)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_id() -> str:
    """The commit when the checkout is the top of a git repository, else a
    digest of the engine's sources."""
    try:
        top, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.split()
        if os.path.samefile(top, ROOT):
            return head
    except (OSError, ValueError, subprocess.CalledProcessError):
        pass
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def jvm_memory_mb(spark, field: str) -> float:
    """One memory figure (e.g. VmHWM) of the driver JVM, in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"{field} not in /proc/{pid}/status")


def run_pass(bench, order, tracer) -> dict:
    t0 = time.perf_counter()
    ops = [bench.run_op(name, tracer) for name in order]
    return {"wall_s": time.perf_counter() - t0, "traced": tracer.enabled, "ops": ops}


def pass_layers(p: dict, cores: int) -> dict:
    """Per-layer totals of one traced pass."""
    tot = {k: sum(op["layers"][k] for op in p["ops"]) for k in OP_METRICS}
    busy = tot["spark.exec_s"] * cores
    tot["spark.busy_ratio"] = tot["spark.task_run_s"] / busy if busy else 0.0
    return tot


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM the gateway launched and wait."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for need in (PKG, os.path.join("tools", "check_oracle.py"), os.path.join("configs", "etl_config.yml")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"not a checkout of the engine: {need} missing under {ROOT}", file=sys.stderr)
            return 2

    # Everything the run writes stays under the checkout.
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    machine = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "load_start": os.getloadavg(),
        "cpu_ticks_start": cpu_ticks(),
    }

    sys.path.insert(0, ROOT)
    try:
        from steam_prices_data_engineering_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2

    names = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        bench = Bench(spark, ROOT, work, FIXTURE, args.seed)
        null = NullTracer()
        # The warm-up runs in the listed order whatever the seed, so every
        # run starts its timed passes from the same JVM state.
        warm = run_pass(bench, names, null)
        warmup_s = time.perf_counter() - t1
        setup_s = process_age_s()

        tracer = Tracer(spark) if args.trace else None
        passes = []
        deadline = time.perf_counter() + args.seconds
        while True:
            # A traced run alternates plain and traced passes, so the
            # tracing overhead is measured under the same conditions.
            if tracer is not None and len(passes) % 2 == 1:
                with tracer:
                    passes.append(run_pass(bench, op_order(names, args.seed, len(passes)), tracer))
            else:
                passes.append(run_pass(bench, op_order(names, args.seed, len(passes)), null))
            if len(passes) >= (2 if tracer else 1) and (
                time.perf_counter() >= deadline or process_age_s() + passes[-1]["wall_s"] > RUN_CAP_S
            ):
                break
        jvm_rss = jvm_memory_mb(spark, "VmHWM")
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        machine.update(jvm_peak_rss_mb=jvm_rss, python_peak_rss_mb=py_rss)

        checker = Checker(ROOT, FIXTURE, bench.oracle_sql)
        for rec in [op for p in passes for op in p["ops"]]:
            if rec["error"] is None:
                try:
                    if "outputs" in rec:
                        rec["error"] = checker.etl(rec["outputs"], rec["run_key"])
                    else:
                        rec["error"] = checker.rows(rec["name"], rec["columns"], rec["rows"])
                except Exception as e:  # noqa: BLE001 - a check that raises fails its op
                    rec["error"] = f"check raised {type(e).__name__}: {e}"
            rec.pop("rows", None)
            if rec["out_dir"]:
                shutil.rmtree(rec["out_dir"], ignore_errors=True)
        checker.close()

        t2 = time.perf_counter()
        spark.range(0, 200_000_000).selectExpr("sum(id)").collect()
        machine["canary_s"] = time.perf_counter() - t2
        machine["spark"] = spark.version
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    machine.update(
        duckdb=duckdb.__version__,
        python=platform.python_version(),
        source=source_id(),
        load_end=os.getloadavg(),
        cpu_ticks_end=cpu_ticks(),
    )
    for p in [warm] + passes:
        for op in p["ops"]:
            op["ok"] = op["error"] is None
            if op["error"]:
                print(f"op {op['index']} {op['name']} failed: {op['error']}", file=sys.stderr)
    warm_failed = sum(1 for op in warm["ops"] if not op["ok"])
    plain = [p for p in passes if not p["traced"]]
    summary = summarize_passes(passes)
    e2e = summarize_passes(plain)
    machine.update(
        pass_walls=[round(p["wall_s"], 3) for p in passes],
        passes=e2e["passes"],
        op_samples=e2e["attempted"],
        op_tail_s=e2e["op_tail_s"],
        op_tail_percentile=e2e["op_tail_percentile"],
        op_tail_beyond=e2e["op_tail_beyond"],
    )
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        layers = median_by_key([pass_layers(p, cores) for p in traced])
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        layers["session.jvm_peak_rss_mb"] = jvm_rss
        layers["session.python_peak_rss_mb"] = py_rss
        layers["trace.overhead_ratio"] = statistics.median(p["wall_s"] for p in traced) / statistics.median(
            p["wall_s"] for p in plain
        )
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in sorted(layers.items())}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            ops = [{k: op[k] for k in ("index", "name", "s", "error")} for p in passes for op in p["ops"]]
            json.dump({"machine": machine, "ops": ops, "spans": tracer.spans, "layers": layers}, f)
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": e2e["pass_s"],
            "op_p50_s": e2e["op_p50_s"],
            "ok_ratio": e2e["ok_ratio"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(machine), file=sys.stderr)
    failed = summary["failed"]
    print(
        json.dumps(
            {
                "correct": failed == 0 and warm_failed == 0,
                "attempted": summary["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
