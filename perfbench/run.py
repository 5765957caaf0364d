#!/usr/bin/env python3
"""CDC engine benchmark: one closed-loop workload per run, in a fresh
Spark JVM, checked against independent oracles.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run it from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``). The line before it is a full report: every named metric
of the workload with its unit and sample count, the per-layer table
with self times, the environment, and any failures. ``--workload all``
runs every workload in its own process and prints each one's lines.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: driver heap: fits a 15 GB box with room for the Python workers
DRIVER_MEM = "3g"
MAX_CORES = 4

END_TO_END = {
    "setup_s": "s",
    "write_p50_ms": "ms",
    "read_p50_ms": "ms",
}

PER_LAYER = {
    "box.memcpy_gbps": "GB/s",
    "box.memcpy_gbps_after": "GB/s",
    "session.start_s": "s",
    "gen.inputs_s": "s",
    "job.spark_jobs_per_op": "count",
    "job.other_s": "s",
    "dedup.isolated_s": "s",
    "dedup.events_per_key": "events/key",
    "normalize.isolated_s": "s",
    "trace.overhead_frac": "ratio",
    "merge.calls_per_op": "count",
    "merge.events_per_epoch": "count",
    "merge.buckets_touched": "count",
    "merge.files_added": "count",
    "merge.bytes_added": "B",
    "table.max_generations": "count",
    "table.n_files": "count",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "tap_github_search_spark", "session.py"))


def configure_env(work: str, cores: int) -> None:
    """Everything Spark and Python write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.enabled=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"),
    })
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def children() -> list[int]:
    """Process ids whose parent is this process (Linux /proc)."""
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name in parentheses may hold spaces
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every child process to end, killing any still running
    after ``timeout`` seconds, so nothing outlives the run."""
    end = time.monotonic() + timeout
    for pid in children():
        while True:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                break
            if done:
                break
            if time.monotonic() > end:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.05)


def run_one(args) -> int:
    import envinfo
    import workloads
    from trace import Recorder, layer_report

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    cores = min(envinfo.nproc(), MAX_CORES)
    configure_env(work, cores)
    env = envinfo.describe(DRIVER_MEM, cores)
    env["memcpy_gbps_before"] = envinfo.memcpy_gbps(envinfo.nproc())
    cpu0 = envinfo.cpu_times()

    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from tap_github_search_spark.session import get_spark

    spark = get_spark(cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    rec = Recorder() if args.trace else None
    phases = {"session_s": session_s}
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(work, "data"), args.seed, rec)
        passes = []
        for _ in range(workloads.SETUP_PASSES):
            t0 = time.perf_counter()
            wl.setup_pass()
            passes.append(time.perf_counter() - t0)
        phases["setup_passes_s"] = passes
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = phases["warmup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.measure(args.seconds)
        wl.set_tracing(False)
        phases["measure_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.gate()
        phases["gate_s"] = time.perf_counter() - t0
        named = wl.metrics()
        layers = {}
        if args.trace:
            layers = wl.kernels()
            layers.update(layer_report(rec))
            # maintainer overhead from the trace: the traced write over
            # the same write minus every maintainer span (its base)
            write = statistics.median(wl.samples[wl.WRITE + "_s_traced"])
            derived = sum(v for k, v in layers.items()
                          if k.startswith("derived.") and k.endswith("_s"))
            layers["derived.overhead_base_s"] = write - derived
            layers["derived.overhead_x"] = write / (write - derived)
            rec.dump(os.path.join(work, "spans.jsonl"))
    finally:
        stop_spark(spark)
        reap_children()
    env["cpu_steal_frac"] = envinfo.steal_frac(cpu0, envinfo.cpu_times())
    env["loadavg_1m"] = os.getloadavg()[0]
    env["memcpy_gbps_after"] = envinfo.memcpy_gbps(envinfo.nproc())

    setup_s = session_s + statistics.median(passes) + warm_s
    named["setup_s"] = (setup_s, "s", len(passes))
    named["ops_failed_frac"] = (wl.failed / max(wl.attempted, 1), "ratio",
                                wl.attempted)
    if args.trace:
        values = trace_metrics(wl, layers, env, session_s)
        units = PER_LAYER
    else:
        values = {k: named[k][0] for k in END_TO_END}
        units = END_TO_END
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "metrics": {k: {"value": v if v == v else None, "unit": u, "n": n}
                    for k, (v, u, n) in sorted(named.items())},
        "layers": dict(sorted(layers.items())),
        "phases": phases,
        "spark_jobs_per_op": wl.jobs,
        "write_samples_s": {k: v for k, v in wl.samples.items()
                            if k.startswith(wl.WRITE + "_s")},
        "env": env, "errors": wl.errors[:20],
    }
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


def trace_metrics(wl, layers: dict, env: dict, session_s: float) -> dict:
    """The per-layer metrics every workload reports in a traced run. The
    tracing overhead compares the traced and untraced writes a traced
    run makes on identical state (``Workload.write``)."""
    op = wl.WRITE
    plain = statistics.median(wl.samples[op + "_s"])
    traced = statistics.median(wl.samples[op + "_s_traced"])
    stats = wl.stats
    return {
        "box.memcpy_gbps": env["memcpy_gbps_before"],
        "box.memcpy_gbps_after": env["memcpy_gbps_after"],
        "session.start_s": session_s,
        "gen.inputs_s": statistics.median(wl.gen_s),
        "job.spark_jobs_per_op": statistics.median(wl.jobs),
        "job.other_s": layers.get("job.other_s", 0.0),
        "dedup.isolated_s": layers["dedup.isolated_s"],
        "dedup.events_per_key": layers["dedup.events_per_key"],
        "normalize.isolated_s": layers["normalize.isolated_s"],
        "trace.overhead_frac": traced / plain - 1.0,
        "merge.calls_per_op": layers.get("merge.calls", 0.0),
        "merge.events_per_epoch": layers.get("merge.events_per_epoch", 0.0),
        "merge.buckets_touched": layers.get("merge.buckets_touched", 0.0),
        "merge.files_added": layers.get("merge.files_added", 0.0),
        "merge.bytes_added": layers.get("merge.bytes_added", 0.0),
        "table.max_generations": stats.get("max_generations", 0),
        "table.n_files": stats.get("n_files", 0),
    }


def run_all(args) -> int:
    """Each workload in its own process, so each gets a fresh JVM."""
    import workloads

    rc = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(f"== {name} (exit {proc.returncode})")
        if len(lines) >= 2:
            report = json.loads(lines[-2])["report"]
            for k, m in report["metrics"].items():
                print(f"  {k:30s} {m['value']!s:>22s} {m['unit']:10s} "
                      f"n={m['n']}")
            for k, v in report["layers"].items():
                print(f"  {k:30s} {v!s:>22s}")
            print("  " + lines[-1])
        rc = rc or proc.returncode
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"tap_github_search_spark not found under {ROOT}: run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
