#!/usr/bin/env python3
"""Benchmark of the engine's public entry points: the paper's star-schema
DAG with its dashboard chart query, and the training-corpus builder.

    python3 perfbench/run.py --workload daily_star --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process, one closed-loop client:
the next op starts only after the previous one returned and its output
was checked (checks are untimed). Prints a human-readable report, then
as its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run. Everything the run
writes goes under ``.perfbench_tmp/`` in the checkout and is removed
at exit. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# layers whose spans submit Spark jobs; "action" is the benchmark forcing a result
SITES = ("catalog", "sources", "functions", "ingest", "operators", "plans", "corpus", "action")
SITE_PROPERTY = "perfbench.layer"


def host_limits() -> tuple[int, str]:
    """(cores this process may use, driver heap below physical RAM)."""
    cpus = len(os.sched_getaffinity(0))
    total_mb = 4096
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
    return cpus, f"{max(1024, min(4096, total_mb // 4))}m"


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies (user nice system idle iowait irq softirq steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def session_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def jvm_peak_rss_mb() -> float:
    """Peak resident set of the Java child, from /proc."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    pids = [proc.pid] if proc else []
    while pids:
        pid = pids.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                is_java = b"java" in fh.read().split(b"\0")[0]
            if is_java:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024.0
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                pids += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return 0.0


def shutdown(spark) -> None:
    """Stop the session and the Java child, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Op(NamedTuple):
    wall: float
    ok: bool
    traced: bool
    result: dict  # workload-specific: timings, output sizes
    spans: dict  # traced ops: {"self": layer -> s, "calls": layer -> n}


def run(args, tmp: str) -> tuple[dict, dict]:
    import workloads
    from spans import Spans

    t0 = time.perf_counter()
    # the entry-point modules, as a user's program imports them
    for module in ("operators.ingest", "plans", "corpus"):
        importlib.import_module(f"stock_data_project_spark.{module}")
    from stock_data_project_spark import session

    import_s = time.perf_counter() - t0
    wl = workloads.WORKLOADS[args.workload](tmp, args.seed)
    wl.prepare()

    spark = None
    try:
        # one session, as a user starts it: the JVM launch is included
        t = time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=session_conf(tmp, args.trace))
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t

        sc = spark.sparkContext
        spans = Spans(on_layer=lambda layer: sc.setLocalProperty(SITE_PROPERTY, layer))
        ops: list[Op] = []
        timed = 0.0
        cpu0 = cpu_times()
        # a fixed number of ops, not a fixed time: op times keep falling
        # over a run while the JIT compiles, so a time window would put
        # a slow run's median earlier on that curve than a fast run's
        n_ops = max(wl.MIN_OPS, round(args.seconds / wl.NOMINAL_OP_S), 3 if args.trace else 1)
        while len(ops) < n_ops:
            i = len(ops)
            traced = bool(args.trace) and i % 2 == 1
            sc.setJobGroup(f"perfbench-op-{i}", f"{wl.name} op {i}")
            if traced:
                spans.reset()
                spans.install()
            t = time.perf_counter()
            try:
                result, err = wl.op(spark, i, spans if traced else None), None
            except Exception as e:  # a failed op is counted, not fatal
                result, err = {}, f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t
            if traced:
                spans.uninstall()
            sc.setLocalProperty("spark.jobGroup.id", None)
            problems = [err] if err else wl.check(spark, i, result)
            for p in problems:
                print(f"op {i}: {p}", file=sys.stderr)
            layer = {"self": dict(spans.self_s), "calls": dict(spans.calls)} if traced else {}
            ops.append(Op(wall, not problems, traced, result, layer))
            timed += wall
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        rss = jvm_peak_rss_mb() if args.trace else 0.0
    finally:
        shutdown(spark)

    walls = [o.wall for o in ops]
    e2e = {
        "setup_s": (import_s + start_s + warmup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "ops_per_s": (len(ops) / timed, "1/s"),
    }
    report = {
        **e2e,
        # ops_per_s times the workload's fixed input rows per op
        "rows_per_s": (len(ops) * wl.input_rows / timed, "rows/s"),
        "failed_ratio": (sum(not o.ok for o in ops) / len(ops), "ratio"),
        "files_written": (statistics.mean(o.result.get("files", 0) for o in ops), "files/op"),
        "bytes_written_per_input_byte": (
            statistics.mean(o.result.get("bytes", 0) for o in ops) / wl.input_bytes,
            "B/B",
        ),
    }
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "ops": len(ops),
        "failed": sum(not o.ok for o in ops),
        "input_rows_per_op": wl.input_rows,
        "input_bytes_per_op": wl.input_bytes,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "session_start_s": round(start_s, 3),
        "import_s": round(import_s, 3),
        "warmup_s": round(warmup_s, 3),
        "op_wall_s": [round(w, 3) for w in walls],
        # share of the host's CPU time, during the ops, that the hypervisor
        # gave to other guests: a noisy-neighbour gauge for reading the run
        "cpu_steal_share": round(cpu[7] / max(sum(cpu), 1), 4),
    }
    if args.trace:
        metrics = per_layer(ops, start_s, rss, os.path.join(tmp, "events"))
    else:
        metrics = e2e
    return metrics, {"summary": summary, "report": report}


def per_layer(ops, session_start_s: float, rss_mb: float, log_dir: str) -> dict:
    """Per-layer metrics of a traced run, as means per traced op (the
    untraced ops only serve ``trace_overhead_ratio``)."""
    import eventlog

    groups = eventlog.group_stats(log_dir, SITE_PROPERTY)
    traced = [
        (o, groups.get(f"perfbench-op-{i}") or eventlog.GroupStats())
        for i, o in enumerate(ops)
        if o.traced
    ]

    mean = statistics.mean
    m = {
        "session.start_s": (session_start_s, "s"),
        "session.jvm_peak_rss_mb": (rss_mb, "MB"),
        "catalog.calls": (mean(o.spans["calls"].get("catalog", 0) for o, _ in traced), "count"),
    }
    for layer in SITES:
        m[f"{layer}.self_s"] = (mean(o.spans["self"].get(layer, 0.0) for o, _ in traced), "s")
    for name, key, unit in (
        ("plans.build_s", "build_s", "s"),
        ("plans.action_s", "action_s", "s"),
        ("sources.output_files", "files", "count"),
        ("sources.output_bytes", "bytes", "B"),
        ("corpus.keep_ratio", "keep_ratio", "ratio"),
    ):
        m[name] = (mean(o.result.get(key, 0) for o, _ in traced), unit)
    m["sources.input_bytes"] = (mean(g.input_bytes for _, g in traced), "B")
    for field, unit in (
        ("jobs", "count"),
        ("tasks", "count"),
        ("executor_run_s", "s"),
        ("executor_cpu_s", "s"),
        ("gc_s", "s"),
        ("task_wait_s", "s"),
        ("shuffle_read_bytes", "B"),
        ("shuffle_write_bytes", "B"),
        ("spill_bytes", "B"),
    ):
        m[f"spark.{field}"] = (mean(getattr(g, field) for _, g in traced), unit)
    m["spark.stages"] = (mean(len(g.stages) for _, g in traced), "count")
    m["spark.driver_gap_s"] = (mean(o.wall - g.stage_active_s() for o, g in traced), "s")
    for site in SITES:
        m[f"spark.executor_run_s.{site}"] = (mean(g.run_s_by_site.get(site, 0.0) for _, g in traced), "s")
    m["trace.coverage_ratio"] = (mean(sum(o.spans["self"].values()) / o.wall for o, _ in traced), "ratio")
    # traced over untraced median wall; the first op, the slowest on
    # the JIT's warm-up curve, is left out of both
    on = [o.wall for o in ops[1:] if o.traced]
    off = [o.wall for o in ops[1:] if not o.traced]
    m["trace_overhead_ratio"] = (statistics.median(on) / statistics.median(off), "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "stock_data_project_spark", "__init__.py")):
        print(f"perfbench: no engine package beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus, driver_mem = host_limits()
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
    )
    tempfile.tempdir = tmp
    try:
        metrics, info = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print("perfbench " + json.dumps(info["summary"]))
    for name, (value, unit) in {**info["report"], **metrics}.items():
        print(f"  {name:<40} {value:>16.6g} {unit}")
    failed = info["summary"]["failed"]
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": info["summary"]["ops"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
