#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload trends_build --seed 1 --seconds 10 --trace 0

Each run reads the engine's fixed sf0.01 test tables from ``data/`` (the
seed orders the queries and places the DML ranges), starts one Spark
session on ``local[<cores>]``, pays the session's generic first-use costs,
measures the CPU time and the wall time of the first pass over the
workload's fixed op list, checks every output against its oracle, and
prints one JSON object as its last line.
``--trace 1`` instead records spans around each call into a layer plus a
Spark event log keyed by job group, and prints the per-layer metrics.  See
README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

# The package and the test suite's oracle helpers import from the
# repository root, the directory the benchmark runs from.
sys.path.insert(1, os.getcwd())

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF = 0.01
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", f"sf{SF}")

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "query.build_s": "s",
    "query.jobs_build": "count",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "dag.build_s": "s",
    "dag.jobs": "count",
    **{f"dag.model_s.{m}": "s" for m in (
        "stg_top_terms", "stg_top_rising_terms", "stg_international_top_terms",
        "stg_international_top_rising_terms", "weekly_trends_summary",
        "top_terms_comparison", "trending_terms_analysis",
    )},
    "testing.s": "s",
    "testing.jobs": "count",
    "testing.tests": "count",
    "testing.failed": "count",
    "stream.batches": "count",
    "stream.batch_ms": "ms",
    "stream.input_rows": "count",
    "stream.state_rows": "count",
    **{k: u for w in ("append", "merge", "delete_dv", "update_dv", "compact", "vacuum")
       for k, u in ((f"txn.{w}_s", "s"), (f"txn.{w}.bytes_written", "B"), (f"txn.{w}.jobs", "count"))},
    "txn.read_range_s": "s",
    "txn.read_full_s": "s",
    "txn.read_version_s": "s",
    "txn.files_scanned_ratio": "ratio",
    "txn.snapshot_s": "s",
    "txn.versions": "count",
    "txn.live_files": "count",
    "txn.dv_files": "count",
    "txn.space_amp": "ratio",
    "txn.write_p50_s": "s",
    "txn.read_p50_s": "s",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.peak_exec_mem_bytes": "B",
    "trace.pass_s": "s",
    "trace.pass_cpu_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A sixth of the machine's memory, between 1 and 4 GiB: local mode runs
    every task in the driver heap, and the package default of 32g would
    over-commit a small machine."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return max(1, min(4, total_kb // (6 * 1024 * 1024)))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and every
    process under it (the JVM and its Python workers), counting children
    they have reaped."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ticks += sum(int(f) for f in fh.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / CLK_TCK


def stream_listener():
    """A StreamingQueryListener that keeps every progress report until
    it is removed."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            # only runs started while registered count; a run that
            # ended earlier can still deliver late events
            self.started: dict[str, float] = {}  # run id -> start time
            self.ended: set[str] = set()
            self.batches: list[tuple[str, int, int, int]] = []

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = time.perf_counter()

        def onQueryProgress(self, event):
            p = event.progress
            state = sum(op.numRowsTotal for op in p.stateOperators)
            self.batches.append((str(p.runId), p.batchDuration, p.numInputRows, state))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.ended.add(str(event.runId))

        def metrics(self) -> dict:
            deadline = time.monotonic() + 10
            while not self.started.keys() <= self.ended and time.monotonic() < deadline:
                time.sleep(0.1)
            self.batches = [b for b in self.batches if b[0] in self.started]
            last_state: dict[str, int] = {}
            for run, _, _, state in self.batches:
                last_state[run] = state
            return {
                "stream.batches": len(self.batches),
                "stream.batch_ms": sum(b[1] for b in self.batches),
                "stream.input_rows": sum(b[2] for b in self.batches),
                "stream.state_rows": sum(last_state.values()),
            }

    return Progress()


def warm_up(spark, sf_dir: str) -> None:
    """The session's first-use costs that every workload pays: a parquet
    scan, a shuffle, a join and a Python worker."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders.groupBy("o_orderpriority").count().collect()
    orders.join(customer, orders.o_custkey == customer.c_custkey).count()
    spark.range(8).mapInPandas(lambda it: it, "id long").collect()


def layer_of(group: str) -> list[str]:
    """Keys a job group ``<pass>:<layer>[:<detail>]`` counts toward: the
    layer and its top-level name (``query.build`` and ``query``)."""
    layer = group.split(":")[1]
    top = layer.split(".")[0]
    return [layer] if top == layer else [layer, top]


def run(args, root: str, work: str) -> tuple[dict, dict, int, int]:
    n_cores = cores()
    mem = driver_mem_gb()
    sf_dir = DATA_DIR
    log_dir = os.path.join(work, "eventlog")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Run settings, before the JVM starts: it and its Python workers
    # inherit them.  Workers import the package from the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "sql-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    from dbt_trill_shop_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{n_cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    try:
        t0 = time.perf_counter()
        warm_up(spark, sf_dir)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, sf_dir, work, args.seed)
        wl.cpu_clock = tree_cpu_s
        prep_s = time.perf_counter() - t0

        tracer = spans.Tracer(enabled=bool(args.trace), spark_context=spark.sparkContext)
        def one_pass(tr: spans.Tracer, tag: str) -> dict:
            wl.prepare_pass()
            first_span = len(tr.spans)
            captured, captured_cpu = wl.capture_s, wl.capture_cpu_s
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with tr.span("pass"):
                info = wl.run_pass(tr, tag)
            dt = time.perf_counter() - t0 - (wl.capture_s - captured)
            cpu = tree_cpu_s() - c0 - (wl.capture_cpu_s - captured_cpu)
            totals: dict[str, float] = {}
            for s in tr.spans[first_span:]:
                totals[s.name] = totals.get(s.name, 0.0) + (s.end - s.start)
            return {"tag": tag, "s": dt, "cpu_s": cpu, "info": info, "spans": totals}

        # The timed pass is the session's first run of the workload's op
        # list, as a single dbt build or query sweep is in practice.  It
        # also captures each output for the checks; the capture is left out
        # of its time.
        listener = stream_listener()
        if args.trace:
            spark.streams.addListener(listener)
        wl.capture = True
        passes = [one_pass(tracer, "p0")]
        wl.capture = False
        stream: dict = {}
        if args.trace:
            stream = listener.metrics()
            spark.streams.removeListener(listener)
            # tracing overhead: a traced pass against an untraced one, both
            # warm, so that neither carries the first pass's costs
            off = spans.Tracer(enabled=False)
            base_s = one_pass(off, "base")["s"]
            again = spans.Tracer(enabled=True, spark_context=spark.sparkContext)
            overhead_s = one_pass(again, "p1")["s"] - base_s
        else:
            # further passes, warm, until --seconds have gone by; the
            # metrics stay the first pass's
            t_start = time.perf_counter() - passes[0]["s"]
            while time.perf_counter() - t_start < args.seconds:
                passes.append(one_pass(tracer, f"p{len(passes)}"))

        t0 = time.perf_counter()
        checks = wl.check()
        check_s = time.perf_counter() - t0
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}

        setup_s = start_s + warmup_s + prep_s
        pass_s = passes[0]["s"]
        pass_cpu_s = passes[0]["cpu_s"]
        failed_checks = [(n, why) for n, why in checks if why is not None]
        attempted = wl.attempted + len(checks)
        failed = wl.failed + len(failed_checks)
        info = {
            "workload": args.workload, "seed": args.seed, "sf": SF, "cores": n_cores,
            "driver_mem": f"{mem}g", "inputs": os.path.relpath(sf_dir, root), "passes": len(passes),
            "failed_frac": failed / attempted, "failed_checks": failed_checks,
            "errors": wl.errors[:20],
            "phase_s": {
                "start": start_s, "warm_up": warmup_s, "prepare": prep_s,
                "capture": wl.capture_s,
                "passes": [p["s"] for p in passes], "checks": check_s,
                "pass_cpu": [p["cpu_s"] for p in passes],
                "ops": [p["info"].get("query_s", {}) for p in passes],
            },
            "peak_rss_mb": rss,
        }
        if hasattr(wl, "txn_results"):
            info.update(wl.txn_latency())
    finally:
        stop_spark(spark, jvm_pid)

    if not args.trace:
        metrics = {"setup_s": setup_s, "pass_cpu_s": pass_cpu_s, "peak_rss_mb": sum(rss.values())}
        return metrics, info, attempted, failed

    groups = spans.credit_stream_runs(
        spans.parse_event_log(spans.event_log_files(log_dir)), listener.started, tracer.spans
    )
    for p in passes:
        for key in ("jobs", "stages", "tasks"):
            p[key] = {}
        mine = [g for g in groups if g.startswith(p["tag"] + ":")]
        for g in mine:
            for layer in layer_of(g):
                for key in ("jobs", "stages", "tasks"):
                    p[key][layer] = p[key].get(layer, 0) + groups[g][key]
        p["exec"] = spans.sum_groups(groups, mine)
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        **{f"exec.{k}": statistics.median(p["exec"][k] for p in passes) for k in spans.EXEC_KEYS},
        **stream,
        **wl.layer_metrics(passes),
        "trace.pass_s": pass_s,
        "trace.pass_cpu_s": pass_cpu_s,
        "trace.overhead_s": overhead_s,
    })
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(
        os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
        {"info": info, "metrics": metrics,
         "job_groups": {g: v for g, v in sorted(groups.items())}},
    )
    return metrics, info, attempted, failed


def descendants(pid: int) -> list[int]:
    """Every process under ``pid``, found through each process's parent id."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, wait for the JVM it launched to exit, then for the
    Python worker daemons the JVM started (they exit when it does)."""
    from pyspark import SparkContext

    workers = descendants(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dbt_trill_shop_spark", "__init__.py")):
        print("perfbench: dbt_trill_shop_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        metrics, info, attempted, failed = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(info, default=str))
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
