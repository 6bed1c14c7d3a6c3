"""The benchmark's workloads, timed from outside the program.

Every workload sets up the same way, several times, and reports the
median: ``session.get_spark``, seeded input preparation through the
``sources`` layer, and a JVM warm-up query. The first set-up also
launches the JVM; later ones stop the session and build a new one in
the same JVM.

- ``ladder-batch`` (closed loop, one pass after another): the job-ladder
  query ``kmeans_cells``, called through ``__spark_entry__.queries()`` and
  materialised through the ``noop`` sink. Most of a pass is driver-side
  build: 14 small Spark jobs and a hit in the shared-frame memo of
  ``functions.caching``.
- ``pickup-stream`` (open loop at ``RATE`` orders/s): a tick generator
  (``ticks.py``) feeds ``sources.generator.derive_purchase_orders`` and
  ``streaming.stream_pickup_orders`` (J1/J2/J3, A1, R4) in update mode
  with RocksDB state, at v1's 4 shuffle partitions, into a
  ``foreachBatch`` sink. Latency runs from each order's due time, stamped
  by the generator, to the end of the sink call that emitted it.

Correctness gates run after the timed region and count into ``failed``.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from py4j.protocol import Py4JError

import __spark_entry__ as entrymod
from bench import _jvm_gc_ms, _own_tree_jiffies
from kafka_streams_repartition_spark.functions.caching import memo_counters
from kafka_streams_repartition_spark.operators.pickup_order import (
    enrich_pickup_orders,
    pickup_order_summary,
)
from kafka_streams_repartition_spark.session import get_spark
from kafka_streams_repartition_spark.sources.generator import derive_purchase_orders
from kafka_streams_repartition_spark.sources.tables import load_tables
from kafka_streams_repartition_spark.streaming.pipelines import stream_pickup_orders
from tests.oracle import assert_parity

import datagen
from sparkstats import SparkCounters, Spans
from ticks import TickServer

SETUPS = 3
BATCH_SF = 0.01
LADDER = ["kmeans_cells"]
MIN_WARM_PASSES = 3
# pass time keeps falling with JIT warm-up for a few passes after the
# cold one; these run untimed
WARMUP_PASSES = 2

RATE = 200  # offered orders per second
STREAM_PARTITIONS = 4  # v1's partition count (BuildSystem.java:39)
# the cold batch and its backlog take a few seconds; micro-batch time
# then keeps falling with JIT warm-up for ~20 s after the generator
# connects on a quiet 4-core guest, longer under steal
MIN_WARMUP_S = 16.0
MAX_WARMUP_S = 26.0
DRAIN_S = 3.0
# warm-up is over once the median of the last FLAT_SPAN micro-batch
# cycles is within FLAT_TOLERANCE of the median of the FLAT_SPAN
# before them
FLAT_SPAN = 4
FLAT_TOLERANCE = 0.08
SMOKE_TICKS = 2_000
STREAM_DIMS = (10_000, 1_000, 10_000)  # users, stores, products

STREAM_PHASES = {
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "add_batch_ms": "addBatch",
    "trigger_ms": "triggerExecution",
}


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    setup_s: float
    cold_pass_s: float
    pass_s: float
    latencies_ms: list[float]
    attempted: int
    failed: int
    layer: dict[str, float] = field(default_factory=dict)
    context: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)


def pctl(values: list[float], q: int) -> float:
    """q-th percentile, interpolated between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def steal_jiffies() -> int | None:
    """Host-wide steal time: CPU the hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return None


def cpu_marks() -> tuple[float, int | None, int | None]:
    """(wall clock, own-tree user jiffies, host steal jiffies)."""
    return time.time(), _own_tree_jiffies(), steal_jiffies()


def cores_between(a: tuple, b: tuple) -> dict[str, float | None]:
    """Cores this run used, and cores stolen from the guest, between two
    ``cpu_marks``."""
    hz = os.sysconf("SC_CLK_TCK") * max(b[0] - a[0], 1e-9)
    return {
        k: None if None in (a[i], b[i]) else round((b[i] - a[i]) / hz, 3)
        for k, i in (("own_cores", 1), ("steal_cores", 2))
    }


def flattened(cycles: list[float]) -> bool:
    """True once cycle times stop falling: the median of the last
    FLAT_SPAN is no more than FLAT_TOLERANCE below the median of the
    FLAT_SPAN before them."""
    if len(cycles) < 2 * FLAT_SPAN:
        return False
    last = statistics.median(cycles[-FLAT_SPAN:])
    prev = statistics.median(cycles[-2 * FLAT_SPAN:-FLAT_SPAN])
    return last >= prev * (1 - FLAT_TOLERANCE)


class Workload:
    def __init__(self, work: str, seed: int, seconds: float, spans: Spans, conf: dict) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.spans = spans
        self.trace = spans.enabled
        self.conf = conf
        self.layer: dict[str, list[float]] = {}
        self.phases: dict[str, float] = {}
        self.spark = None

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def setup(self) -> float:
        """Set up SETUPS times; returns the median set-up seconds."""
        times = []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            sid = self.spans.open("setup", round=i)
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", extra_conf=self.conf)
            t1 = time.perf_counter()
            self.prepare(os.path.join(self.work, f"input{i}"))
            t2 = time.perf_counter()
            self.smoke()
            t3 = time.perf_counter()
            self.spans.close(sid)
            self.note("session.start_s", t1 - t0)
            self.note("sources.prepare_s", t2 - t1)
            self.note("session.warm_s", t3 - t2)
            times.append(t3 - t0)
        self.counters = SparkCounters(self.spark)
        self.phases["setups_s"] = sum(times)
        return statistics.median(times)

    def collect_garbage(self) -> None:
        """Python and JVM GC between timed units, outside their timers."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()


class LadderBatch(Workload):
    name = "ladder-batch"

    def prepare(self, path: str) -> None:
        datagen.write_seeded(self.base, self.seed, path)
        tables = load_tables(self.spark, path)
        for name in datagen.TABLES:
            tables[name].schema  # noqa: B018 -- forces the footer read
        self.sf_dir = path

    def smoke(self) -> None:
        pickup_order_summary(load_tables(self.spark, self.sf_dir)).count()

    def run_pass(self, tag: str) -> dict:
        self.collect_garbage()
        fns = entrymod.queries()
        memo0, gc0 = memo_counters(), _jvm_gc_ms(self.spark)
        pass_mark = self.counters.mark() if self.trace else None
        rec: dict = {"queries": {}, "dfs": {}, "errors": []}
        psid = self.spans.open("pass", tag=tag)
        t0 = time.perf_counter()
        for name in LADDER:
            qsid = self.spans.open("query", query=name)
            mark = self.counters.mark() if self.trace else None
            try:
                a = time.perf_counter()
                df = fns[name](self.spark, self.sf_dir)
                b = time.perf_counter()
                if self.trace:
                    df._jdf.queryExecution().executedPlan()
                c = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                d = time.perf_counter()
            except (PySparkException, Py4JError) as exc:
                rec["errors"].append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                self.spans.close(qsid, error=True)
                continue
            q = {"build_s": b - a, "plan_s": c - b, "exec_s": d - c}
            if self.trace:
                q["jobs"] = self.counters.mark()[0] - mark[0]
            self.spans.close(qsid, **q)
            rec["queries"][name] = q
            rec["dfs"][name] = df
        rec["wall_s"] = time.perf_counter() - t0
        memo1, gc1 = memo_counters(), _jvm_gc_ms(self.spark)
        rec["memo_hits"], rec["memo_misses"] = memo1[0] - memo0[0], memo1[1] - memo0[1]
        rec["gc_ms"] = None if None in (gc0, gc1) else gc1 - gc0
        if self.trace:
            rec["totals"] = self.counters.totals(pass_mark, self.counters.mark())
        self.spans.close(psid, wall_s=rec["wall_s"])
        return rec

    def gate(self, dfs: dict) -> list[str]:
        """DuckDB-oracle parity of each query's last output."""
        oracles = entrymod.oracle_sql()
        bad = []
        sid = self.spans.open("gate")
        for name in LADDER:
            if name not in dfs:
                bad.append(f"{name}: no output to check")
                continue
            try:
                assert_parity(dfs[name], oracles[name], self.sf_dir)
            except AssertionError as exc:
                bad.append(f"{name}: oracle mismatch: {exc}"[:300])
        self.spans.close(sid, failed=len(bad))
        return bad

    def run(self) -> Outcome:
        self.base = datagen.base_tables(BATCH_SF)
        setup_s = self.setup()
        cold = self.run_pass("cold")
        warmup = [self.run_pass("warmup")["wall_s"] for _ in range(WARMUP_PASSES)]
        warm = []
        t_end = time.perf_counter() + self.seconds
        # start a pass only if it should end inside the window, so the
        # pass count does not flip with small speed differences
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() + warm[-1]["wall_s"] <= t_end:
            warm.append(self.run_pass("warm"))
        errors = [e for p in (cold, *warm) for e in p["errors"]]
        g0 = time.perf_counter()
        gate_bad = self.gate(warm[-1]["dfs"])
        self.phases["gate_s"] = time.perf_counter() - g0
        walls = [p["wall_s"] for p in warm]
        out = Outcome(
            setup_s=setup_s,
            cold_pass_s=cold["wall_s"],
            pass_s=statistics.median(walls),
            latencies_ms=[w * 1000 for w in walls],
            attempted=len(LADDER) * (1 + len(warm)),
            failed=len(errors) + len(gate_bad),
            errors=errors + gate_bad,
        )
        jobs = {n: [p["queries"].get(n, {}).get("jobs") for p in warm] for n in LADDER}
        memo = [(p["memo_hits"], p["memo_misses"]) for p in warm]
        out.context = {
            "queries": LADDER,
            "warmup_passes_s": [round(w, 4) for w in warmup],
            "warm_passes": len(warm),
            "pass_walls_s": [round(w, 4) for w in walls],
            "memo_per_warm_pass": memo,
            "memo_cold": (cold["memo_hits"], cold["memo_misses"]),
            "input_rows": {k: v.num_rows for k, v in self.base.items()},
        }
        if self.trace:
            out.context["jobs_per_warm_pass"] = jobs
            out.context["counts_repeat"] = (
                all(len(set(v)) == 1 for v in jobs.values()) and len(set(memo)) == 1
            )
        out.layer = self.layer_metrics(cold, warm)
        return out

    def layer_metrics(self, cold: dict, warm: list[dict]) -> dict[str, float]:
        med = statistics.median
        m = {
            "functions.memo_hits": med(p["memo_hits"] for p in warm),
            "functions.memo_misses": med(p["memo_misses"] for p in warm),
            "functions.memo_hits_cold": cold["memo_hits"],
            "functions.memo_misses_cold": cold["memo_misses"],
            "operators.jvm_gc_ms": med(p["gc_ms"] or 0 for p in warm),
        }
        for part in ("build_s", "plan_s", "exec_s"):
            m[f"operators.{part}"] = med(
                sum(q[part] for q in p["queries"].values()) for p in warm
            )
            for n in LADDER:
                m[f"operators.{part}.{n}"] = med(p["queries"].get(n, {}).get(part, 0.0) for p in warm)
        if self.trace:
            for n in LADDER:
                m[f"operators.jobs.{n}"] = med(p["queries"].get(n, {}).get("jobs", 0) for p in warm)
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            tot = [p["totals"] for p in warm]
            for key in asdict(tot[0]):
                m[f"operators.{key}"] = med(getattr(t, key) for t in tot)
            m["operators.core_util"] = med(
                t.executor_cpu_s / (p["wall_s"] * cores) for t, p in zip(tot, warm)
            )
        return m


class PickupStream(Workload):
    name = "pickup-stream"

    def prepare(self, path: str) -> None:
        datagen.write_stream_dims(*STREAM_DIMS, path)
        read = self.spark.read.parquet
        self.dims = {n: read(os.path.join(path, f"{n}.parquet")) for n in ("users", "stores", "products")}

    def ticks_batch(self, n: int):
        """Batch ticks 0..n-1 shaped like the generator's, seed-offset."""
        return self.spark.range(n).select(
            F.current_timestamp().alias("timestamp"),
            (F.col("id") + F.lit(self.seed * datagen.KEY_STRIDE)).alias("value"),
        )

    def enrich(self, orders):
        d = self.dims
        return enrich_pickup_orders(orders, d["users"], d["stores"], d["products"])

    @staticmethod
    def comparable(df):
        """order_id, due time (µs) and the order's payload as JSON."""
        payload = [c for c in df.columns if c != "timestamp"]
        return df.select(
            "order_id",
            F.unix_micros("timestamp").alias("due_us"),
            F.to_json(F.struct(*payload)).alias("payload"),
        )

    def smoke(self) -> None:
        self.enrich(derive_purchase_orders(self.ticks_batch(SMOKE_TICKS))).count()

    def run(self) -> Outcome:
        setup_s = self.setup()
        spark = self.spark
        spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTITIONS))
        gen = TickServer(RATE)
        gen.start()
        line = F.split("value", " ")
        ticks = (
            spark.readStream.format("socket").option("host", "127.0.0.1")
            .option("port", gen.port).load()
            .select(
                F.timestamp_micros(line[1].cast("long")).alias("timestamp"),
                (line[0].cast("long") + F.lit(self.seed * datagen.KEY_STRIDE)).alias("value"),
            )
        )
        out_df = stream_pickup_orders(derive_purchase_orders(ticks), **self.dims)
        emitted: list[tuple[int, float, float, list]] = []
        last_due = [0.0]  # latest due time emitted so far

        def sink(batch_df, batch_id: int) -> None:
            sid = self.spans.open("sink", batch=batch_id)
            a = time.time()
            rows = self.comparable(batch_df).collect()
            emitted.append((batch_id, a, time.time(), rows))
            last_due[0] = max([last_due[0]] + [r["due_us"] / 1e6 for r in rows])
            self.spans.close(sid, rows=len(rows))

        self.collect_garbage()
        # a fresh checkpoint per run, so the partition count is never
        # pinned by an earlier run's offsets log
        ckpt = os.path.join(self.work, "checkpoint")
        sid = self.spans.open("stream", rate=RATE, partitions=STREAM_PARTITIONS)
        t_start = time.time()
        query = (
            out_df.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", ckpt).start()
        )
        mark0 = w0 = cpu0 = cpu1 = None
        while query.isActive:
            now = time.time()
            if w0 is None and gen.t0 is not None and now >= gen.t0 + MIN_WARMUP_S:
                ends = [e[2] for e in emitted if e[3]]
                cycles = [b - a for a, b in zip(ends, ends[1:])]
                if flattened(cycles) or now >= gen.t0 + MAX_WARMUP_S:
                    w0 = now
                    w1 = w0 + self.seconds
                    cpu0 = cpu_marks()
            if cpu1 is None and w0 is not None and now >= w1:
                cpu1 = cpu_marks()
            # ticks are consumed in order: once an order due after the
            # window is out, every order due in it is
            if w0 is not None and now >= w1 and (last_due[0] >= w1 or now >= w1 + DRAIN_S):
                break
            if mark0 is None and self.trace and w0 is not None and now >= w0:
                mark0 = self.counters.mark()
            query.awaitTermination(0.25)
        mark1 = self.counters.mark() if self.trace else None
        # stop between micro-batches: interrupting a running foreachBatch
        # call makes the stream thread fail on its own error message
        gen.stop()
        idle_by = time.time() + 10
        while query.isActive and time.time() < idle_by:
            status = query.status
            if not status["isTriggerActive"] and not status["isDataAvailable"]:
                break
            time.sleep(0.05)
        query.stop()
        t_end = time.time()
        self.spans.close(sid)
        exc = query.exception()
        progress = [json.loads(p.json) for p in query.recentProgress]
        if w0 is None:  # never connected: the exception says why
            w0 = w1 = t_end

        lat = []
        for _, _, t_emit, rows in emitted:
            lat += [(t_emit - r["due_us"] / 1e6) * 1000 for r in rows if w0 <= r["due_us"] / 1e6 < w1]
        emitted_in_window = len(lat)
        # orders due in the window but never emitted miss every latency
        # limit: count them at the lower bound of their lateness
        unemitted = max(0, int(RATE * self.seconds) - emitted_in_window)
        lat += [(t_end - w1) * 1000] * unemitted
        firsts = [t for _, _, t, rows in emitted if rows]
        cold_s = (min(firsts) - t_start) if firsts else t_end - t_start

        g0 = time.perf_counter()
        attempted, failed, errors = self.gate(emitted, progress)
        self.phases["gate_s"] = time.perf_counter() - g0
        if exc is not None:
            errors.append(f"stream terminated: {exc}"[:300])
            failed += 1
        window = [p for p in progress if w0 <= _epoch(p["timestamp"]) < w1]
        # one micro-batch's wall time: batches run back to back while
        # ticks keep arriving, so it is the spacing of consecutive sink ends
        ends = sorted(t for _, _, t, _ in emitted)
        cycle = [b - a for a, b in zip(ends, ends[1:]) if w0 <= a < w1] or [t_end - t_start]
        out = Outcome(
            setup_s=setup_s,
            cold_pass_s=cold_s,
            pass_s=statistics.median(cycle),
            latencies_ms=lat or [(t_end - t_start) * 1000],
            attempted=attempted,
            failed=failed,
            errors=errors,
        )
        out.context = {
            "offered_rate_per_s": RATE,
            "generator_max_lag_ms": round(gen.max_lag_s * 1000, 3),
            "shuffle_partitions": STREAM_PARTITIONS,
            "window_s": [round(w0 - t_start, 3), round(w1 - t_start, 3)],
            "connected_s": None if gen.t0 is None else round(gen.t0 - t_start, 3),
            "window_cpu": None if None in (cpu0, cpu1) else cores_between(cpu0, cpu1),
            "unemitted_in_window": unemitted,
            "batches_in_window": len(window),
            "batches": [
                (p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"))
                for p in progress
            ],
            "dims": dict(zip(("users", "stores", "products"), STREAM_DIMS)),
        }
        sink_ms = [(b - a) * 1000 for _, a, b, _ in emitted if w0 <= a < w1]
        out.layer = self.layer_metrics(window, sink_ms, emitted_in_window, mark0, mark1)
        return out

    def gate(self, emitted: list, progress: list[dict]) -> tuple[int, int, list[str]]:
        """Every order of every completed micro-batch equals batch
        ``enrich_pickup_orders`` over the same ticks."""
        sid = self.spans.open("gate")
        done = {p["batchId"] for p in progress}
        n_ticks = sum(p["numInputRows"] for p in progress)
        got: dict[str, str] = {}
        for bid, _, _, rows in sorted(emitted, key=lambda e: e[0]):
            if bid in done:
                for r in rows:
                    got[r["order_id"]] = r["payload"]
        want = {
            r["order_id"]: r["payload"]
            for r in self.comparable(
                self.enrich(derive_purchase_orders(self.ticks_batch(n_ticks)))
            ).collect()
        }
        keys = got.keys() | want.keys()
        bad = [k for k in keys if got.get(k) != want.get(k)]
        self.spans.close(sid, failed=len(bad))
        errors = [f"order {k}: emitted {got.get(k)!r:.120} expected {want.get(k)!r:.120}" for k in bad[:5]]
        return max(len(keys), 1), len(bad), errors

    def layer_metrics(self, window: list[dict], sink_ms: list[float], emitted: int,
                      mark0, mark1) -> dict[str, float]:
        def med(xs):
            xs = list(xs)
            return statistics.median(xs) if xs else 0.0

        m = {f"streaming.{k}": med(p["durationMs"].get(v, 0) for p in window)
             for k, v in STREAM_PHASES.items()}
        ops = [p["stateOperators"][0] for p in window if p.get("stateOperators")]
        m.update({
            "streaming.sink_ms": med(sink_ms),
            "streaming.batches": len(window),
            "streaming.rows_per_batch": med(p["numInputRows"] for p in window),
            "streaming.emitted_per_s": emitted / self.seconds,
            "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
            "streaming.state_memory_mb": ops[-1]["memoryUsedBytes"] / 1e6 if ops else 0.0,
            "streaming.state_commit_ms": med(o.get("commitTimeMs", 0) for o in ops),
            "streaming.state_rows_updated": med(o["numRowsUpdated"] for o in ops),
        })
        if self.trace and mark0 is not None and window:
            totals = asdict(self.counters.totals(mark0, mark1))
            skew = totals.pop("task_skew")
            m.update({f"operators.{k}": v / len(window) for k, v in totals.items()})
            m["operators.task_skew"] = skew
        return m


def _epoch(iso: str) -> float:
    """Progress timestamps are ISO-8601 UTC with millisecond precision."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


WORKLOADS = {w.name: w for w in (LadderBatch, PickupStream)}
