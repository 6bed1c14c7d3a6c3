#!/usr/bin/env python3
"""Order-topology benchmark.

    python3 perfbench/run.py --workload {ladder-batch,pickup-stream} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each invocation is one process running one
workload on ``local[nproc]``, so no workload inherits another's JIT or
memo warmth. ``--trace 0`` measures the end-to-end metrics; ``--trace 1``
is the separate traced run that records spans and per-layer counters
(the metric names, and which end-to-end metric each should move, are in
``perfbench/LAYERS.md``). Inputs are generated from ``--seed``; outputs
are checked after the timed region.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries the run's context
(cores, seed, sample counts, contention). Scratch files live under
``.perfbench/`` in the working directory and are removed at exit, except
the run record ``.perfbench/<workload>-seed<N>-trace<T>.json``.
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
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, set-up and teardown included

# steal of 0.275 cores (4-core guest) slowed every phase of a run by ~40%;
# quiet runs read 0.02-0.03
STEAL_CORES_LIMIT = 0.1


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of every ``end_to_end`` or ``per_layer`` metric, in
    BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _tree_pids() -> set[int]:
    """This process and all its live descendants."""
    parent: dict[int, int] = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            try:
                with open(f"/proc/{ent}/stat") as fh:
                    raw = fh.read()
                parent[int(ent)] = int(raw[raw.rindex(")") + 2:].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. Python workers fork from one daemon,
    so summing their plain RSS would count the shared pages once per
    worker alive at that moment."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree (driver JVM, Python
    workers and this process), sampled every ``period`` seconds.

    The peak is taken over the median of each three consecutive samples.
    When the JVM spawns a helper process, the child shares the JVM's
    address space until it execs, and a sample caught in that instant
    counts the JVM twice: one run read 5.1 GB between samples of 2.6 GB.
    Memory that stays resident for two samples in a row still counts."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self._recent: list[float] = []
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in _tree_pids():
            try:
                total += _pss_bytes(pid)
            except (OSError, ValueError, IndexError):
                continue  # exited between the walk and the read
        self._recent = (self._recent + [total / 1e6])[-3:]
        self.peak_mb = max(self.peak_mb, statistics.median_low(self._recent))

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_mb


def _environment(work: str) -> dict[str, str]:
    """Process environment and Spark conf that keep every file the run
    writes inside ``work`` and size the session to this machine."""
    cores = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = cores  # session defaults to local[32]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers import the package (migrate-style UDFs) from the
    # repository root, wherever the benchmark was started
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _stop_processes(spark) -> None:
    """Stop the session and the gateway JVM, then wait for every
    descendant (Python workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while len(_tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in _tree_pids() - {os.getpid()}:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while len(_tree_pids()) > 1 and time.time() < deadline + 10:
        time.sleep(0.1)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_main = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "kafka_streams_repartition_spark")):
        print(f"no program to measure under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    scratch = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(scratch, f"run-{os.getpid()}")
    os.makedirs(work)
    conf = _environment(work)
    sys.path[:0] = [ROOT]

    from bench import (  # /proc contention helpers, read-only
        EXTERNAL_CORES_LIMIT,
        _own_tree_jiffies,
        _proc_stat_busy_jiffies,
        external_busy_cores,
    )
    from sparkstats import Spans
    from workloads import WORKLOADS, pctl, steal_jiffies

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work)
        return 2
    spans = Spans(enabled=bool(args.trace))
    sampler = RssSampler()
    sampler.start()
    host0, own0, steal0 = _proc_stat_busy_jiffies(), _own_tree_jiffies(), steal_jiffies()
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, spans, conf)
    try:
        out = wl.run()
    finally:
        elapsed = time.perf_counter() - t0
        ext = external_busy_cores(
            host0, own0, _proc_stat_busy_jiffies(), _own_tree_jiffies(), elapsed,
        )
        steal1 = steal_jiffies()
        steal = (
            None if None in (steal0, steal1)
            else (steal1 - steal0) / (elapsed * os.sysconf("SC_CLK_TCK"))
        )
        peak_mb = sampler.stop()
        t_down = time.perf_counter()
        _stop_processes(wl.spark)
        shutil.rmtree(work, ignore_errors=True)
        wl.phases["teardown_s"] = time.perf_counter() - t_down
    signal.alarm(0)

    cores = len(os.sched_getaffinity(0))
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "external_busy_cores": None if ext is None else round(ext, 3),
        "steal_cores": None if steal is None else round(steal, 3),
        "load_flag": (
            None if ext is None
            else "loaded"
            if ext > max(EXTERNAL_CORES_LIMIT, cores / 16) or (steal or 0) > STEAL_CORES_LIMIT
            else "idle"
        ),
        "latency_samples": len(out.latencies_ms),
        **out.context,
        "phases_s": {k: round(v, 3) for k, v in wl.phases.items()},
        "wall_s": round(time.perf_counter() - t_main, 3),
        "errors": out.errors,
    }
    e2e = {
        "setup_s": out.setup_s,
        "cold_pass_s": out.cold_pass_s,
        "pass_s": out.pass_s,
        "latency_p50_ms": pctl(out.latencies_ms, 50),
        "latency_p95_ms": pctl(out.latencies_ms, 95),
        "peak_rss_mb": peak_mb,
    }
    if args.trace:
        units = metric_units("per_layer")
        layer = {name: 0.0 for name in units}
        layer.update({k: statistics.median(v) for k, v in wl.layer.items()})
        layer.update(out.layer)
        layer["traced.pass_s"] = e2e["pass_s"]
        layer["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in units.items()}
        spans.write(os.path.join(scratch, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        units = metric_units("end_to_end")
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
    result = {
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }
    with open(os.path.join(scratch, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"context": context, **result}, fh, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
