#!/usr/bin/env python3
"""Seeded benchmark of the engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload sql_corpus --seed 1 --seconds 10 --trace 0

Generates the workload's reference-schema inputs from ``--seed`` (cached per
seed and size under ``.perfbench/``), sets the engine up once, then runs
passes of the workload's op list as a closed loop with one client until
``--seconds`` have passed (at least one pass). Every metric is taken from
the first pass, which pays JIT and code generation for every op shape, as
a user's first query of each shape does; later passes only fill the
window, and their wall times are reported as ``warm_pass_s``. Every
answer, of every pass, is checked after the timed window. ``setup_s``
counts from the start of this script to the first timed op, input
generation excluded: imports, JVM and session start, input load and one
warm-up op.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics: every op runs in a Spark job
group whose jobs are read back from the status store after the pass. The traced run reports its own wall
times (``pass_s``, to set against ``pass_s`` of an untraced run of the
same seed) and the time spent in span bookkeeping (``trace.overhead_s``).
The lines before the last give the deployment settings and every metric
of the run, ``fail_ratio`` and each failing op included.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def deployment_settings(run_dir: str) -> dict[str, str]:
    """Pinned engine settings, exported before pyspark starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1 << 20)
    heap_gb = min(4, max(1, mem_gb // 6))  # 1..4 GB: the engine's default is 48g
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_STAGE_DIR": os.path.join(run_dir, "stage"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM (launcher and driver): temp files inside the run dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # a fixed-size heap and young generation under the throughput
        # collector make the driver JVM's peak RSS repeat from run to run
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{heap_gb}g -Xmn{heap_gb * 256}m",
        "TZ": "UTC",
        "spark.ui.showConsoleProgress": "false",
    }
    for key in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_STAGE_DIR", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    os.environ.update({k: v for k, v in settings.items() if not k.startswith("spark.")})
    return settings


def spark_conf(settings: dict[str, str]) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        **{k: v for k, v in settings.items() if k.startswith("spark.")},
    }


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _process_table() -> tuple[dict[int, int], dict[int, int]]:
    """(parent pid, CPU ticks incl. reaped children) of every process."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return parent, ticks


def descendants(root: int, parent: dict[int, int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants (the JVM
    and its Python workers), children already reaped included."""
    parent, ticks = _process_table()
    total = sum(ticks.get(p, 0) for p in [root, *descendants(root, parent)])
    return total / os.sysconf("SC_CLK_TCK")


def shutdown_engine(spark) -> None:
    """Stop Spark and the JVM, then wait until every process this run
    started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid(), _process_table()[0])) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _reset_peak(pid: int) -> None:
    # writing 5 resets the VmHWM high-water mark (Linux >= 4.0)
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "awscommunityday_2025_iceberg_snowfalke_spark", "__init__.py")):
        print(f"no engine source under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    settings = deployment_settings(run_dir)
    try:
        result = _run(args, W.WORKLOADS[args.workload], W, run_dir, settings)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in result:
        print(json.dumps(line))
    return 0


def _run(args, wl, W, run_dir, settings) -> list[dict]:
    """Generate inputs, set up, run the timed loop, check the answers;
    returns the output lines (the result object last)."""
    import pyspark

    import gen
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import all_oracle, all_queries
    from awscommunityday_2025_iceberg_snowfalke_spark.session import get_spark
    from check import Oracle
    from spans import Tracer

    # -- inputs (excluded from set-up time) --------------------------------
    t_inputs = time.perf_counter()
    if wl.kind == "query":
        data_dir = os.path.join(WORK, "data", f"{wl.name}-s{args.seed}-sf{wl.sf}")
        gen.generate(data_dir, args.seed, wl.sf, wl.tables)
    else:
        data_dir = os.path.join(WORK, "data", f"{wl.name}-s{args.seed}-c{wl.commits}x{wl.batch_rows}")
        W.generate_commit_inputs(data_dir, args.seed, wl)
    inputs_s = time.perf_counter() - t_inputs

    spark = None
    try:
        # -- set-up: session start (JVM launch) + input load + warm-up op -------
        fns = all_queries() if wl.kind == "query" else None
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=spark_conf(settings))
        t1 = time.perf_counter()
        if wl.kind == "query":
            W.warm_up_query(spark, wl, fns, data_dir)
        else:
            W.warm_up_commits(spark, wl, data_dir, os.path.join(run_dir, "warm"))
        session_start_s, warmup_s = t1 - t0, time.perf_counter() - t1
        jvm_pid = spark.sparkContext._gateway.proc.pid

        # -- timed closed loop --------------------------------------------------
        _reset_peak(jvm_pid)
        _reset_peak(os.getpid())
        tracer = Tracer(spark, enabled=bool(args.trace))
        records: list = []
        passes: list[float] = []  # seconds per pass
        commit_stats: list[dict] = []
        t_loop = time.perf_counter()
        cpu0 = tree_cpu_s(os.getpid())
        steal0, ticks0 = host_cpu_ticks()
        while not passes or time.perf_counter() - t_loop < args.seconds:
            n = len(passes)
            if wl.kind == "query":
                passes.append(W.run_query_pass(spark, tracer, wl, fns, data_dir, n, records))
            else:
                commit_stats.append(W.new_commit_stats())
                passes.append(W.run_commit_pass(
                    spark, tracer, wl, data_dir, os.path.join(run_dir, f"table-{n}"),
                    args.seed, n, records, commit_stats[-1],
                ))
            if n == 0:  # the measured pass
                cpu_s = tree_cpu_s(os.getpid()) - cpu0
                peak_rss_mb = (_rss_kb(jvm_pid) + _rss_kb(os.getpid())) / 1024.0
                steal1, ticks1 = host_cpu_ticks()
                trace_overhead_s = tracer.overhead_s
            tracer.harvest()
        if args.trace:
            tracer.dump(os.path.join(WORK, "spans", f"{wl.name}-s{args.seed}.jsonl"))

        # -- answer checks (outside the timed window) ---------------------------
        if wl.kind == "query":
            oracle = Oracle(data_dir, wl.tables)
            try:
                W.check_queries(records, oracle, all_oracle())
            finally:
                oracle.close()
        else:
            W.check_commits(records, commit_stats, data_dir, args.seed, wl, run_dir)
    finally:
        if spark is not None:
            shutdown_engine(spark)

    # -- metrics (of the first pass) ------------------------------------------------
    first = [r for r in records if r.pass_no == 0]
    latencies = [r.latency_s for r in first]
    failed = [r for r in records if r.error]
    # Wall times move with host contention (CPU steal) by more than any
    # useful bound, so they are reported per layer; CPU time, memory and
    # set-up time carry the bounds.
    e2e = {
        "setup_s": metric(t_loop - T_PROCESS - inputs_s, "s"),
        "pass_cpu_s": metric(cpu_s, "s"),
        "peak_rss_mb": metric(peak_rss_mb, "MB"),
    }
    wall = {
        "pass_s": passes[0],
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": W.quantile(latencies, W.TAIL_Q),
    }
    report = {
        "workload": wl.name,
        "seed": args.seed,
        **wall,
        "warm_pass_s": passes[1:],
        "op_samples": len(latencies),
        "op_tail_quantile": W.TAIL_Q,
        "op_samples_beyond_tail": sum(1 for x in latencies if x > wall["op_tail_s"]),
        "fail_ratio": len(failed) / len(records),
        "failures": sorted({f"{r.name}: {r.error}" for r in failed}),
        "session.start_s": session_start_s,
        "setup.warmup_s": warmup_s,
        "inputs_s": inputs_s,
        "process_to_first_op_s": t_loop - T_PROCESS,
        # share of CPU time the hypervisor gave to other guests during the
        # measured pass: the main source of run-to-run spread on shared hosts
        "host_steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "op_latency_s": {r.name: r.latency_s for r in first if r.kind == "query"},
    }
    if wl.kind == "commits":
        report.update(W.commit_metrics(first, commit_stats[0], data_dir))
    if args.trace:
        spans = [sp for sp in tracer.spans if sp.pass_id == "0"]
        metrics = {
            k: metric(v, W.per_layer_unit(k))
            for k, v in W.per_layer_metrics(spans, commit_stats[0] if commit_stats else None, report).items()
        }
        metrics["trace.overhead_s"] = metric(trace_overhead_s, "s")
    else:
        metrics = e2e
    return [
        {
            "settings": settings,
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "host_cpus": os.cpu_count(),
        },
        {"report": report, "end_to_end": {k: v["value"] for k, v in e2e.items()}},
        {"correct": not failed, "attempted": len(records), "failed": len(failed), "metrics": metrics},
    ]


if __name__ == "__main__":
    sys.exit(main())
