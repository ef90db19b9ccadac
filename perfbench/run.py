#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Set-up (seeded input generation plus
the workload's initial state) runs ``setup_reps`` times (the first on a
cold JVM) and reports the median as ``setup_s``; the last set-up is the
one measured. Workloads whose first iteration is much slower than the
rest run one untimed warm-up iteration next. Then a closed loop (one
client) runs iterations until ``--seconds`` have passed and at least the
workload's ``min_cycles`` have completed. Every timed operation is
verified; a failed check fails that operation, an exception ends the run
with a non-zero exit code and no result line.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` instead sets
up once (``setup_s`` is not reported), runs four cycles, untraced and
traced in ABBA order, prints the per-layer metrics of the traced ones
and writes every figure (both sides, the tracing overhead, the event-log
attribution per operation) to
``.bench_work/layers-<workload>-seed<seed>.json``.
The last line of standard output is always the result object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metric → unit
E2E_UNITS = {
    "setup_s": "s",
    "cycle_s.p50": "s",
    "rows_per_s": "rows/s",
    "write_s.p50": "s",
    "query_s.p50": "s",
    "queries_per_s": "1/s",
    "store_bytes_per_user_byte": "ratio",
    "peak_rss_mb": "MB",
}


def tail_quantile(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has ≥10 samples beyond it →
    (value, percentile, sample count); the median when fewer than 11
    samples exist."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return statistics.median(xs), 50.0, n
    i = n - 11
    return xs[i], round(100 * (i + 1) / n, 1), n


class Run:
    """Timings and verification results of one measured loop."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.ops: list[tuple[str, str, float]] = []   # (kind, label, seconds)
        self.cycles: list[float] = []
        self.cycle_writes: list[float] = []   # write-op seconds per cycle
        self.rows = 0              # input rows the timed operations consumed
        self.user_bytes = 0        # bytes of the input files behind those rows
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.values: dict[str, list[float]] = {}      # workload-reported figures

    def note(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(value)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def check(self, ok: bool, what: str) -> None:
        """Verify the operation timed last; a failed check fails that op."""
        if not ok:
            self.failed_ops.add(len(self.ops) - 1)
            print(f"verification failed: {what}", file=sys.stderr)

    def timed(self, kind: str, label: str, fn):
        """Time one eager engine call (the call is the action)."""
        self.attempted += 1
        span = self.tracer.op(label) if self.tracer else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.ops.append((kind, label, dt))
        return out

    def query(self, label: str, build, act, kind: str = "query"):
        """Time one lazy query: construct (``build``), plan, action (``act``)."""
        self.attempted += 1
        span = self.tracer.op(label) if self.tracer else contextlib.nullcontext()
        with span as phases:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            if phases is not None:
                phases["construct_end"] = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            out = act(df)
            t3 = time.perf_counter()
        self.ops.append((kind, label, t3 - t0))
        if self.tracer:
            self.note("spark.construct_s", t1 - t0)
            self.note("spark.plan_s", t2 - t1)
            self.note("spark.action_s", t3 - t2)
        return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def start_spark(work: str, traced: bool):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from from_superset_to_clickhouse_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    }
    evdir = os.path.join(work, "events")
    if traced:
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, evdir


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, spark, work: str, seed: int, size: str):
    if name == "elt_daily":
        import elt

        return elt.EltDaily(spark, work, seed, size)
    import curation

    return curation.CurationOps(spark, work, seed, size)


def loop(wl, run: Run, seconds: float, min_cycles: int) -> None:
    """Closed loop, one client, for ``seconds`` and at least ``min_cycles``
    cycles (a median needs more than one). A cycle's time is the sum of
    its timed operations: input generation and verification are not
    counted."""
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline or len(run.cycles) < min_cycles:
        first = len(run.ops)
        wl.iteration(run)
        run.cycles.append(sum(s for _k, _l, s in run.ops[first:]))
        run.cycle_writes.append(sum(s for k, _l, s in run.ops[first:] if k == "write"))


def e2e_metrics(run: Run, wl, setup: list[float], rss: float) -> tuple[dict, dict]:
    queries = [s for k, _l, s in run.ops if k == "query"]
    tail, pct, n = tail_quantile(queries)
    m = {
        "setup_s": statistics.median(setup),
        "cycle_s.p50": statistics.median(run.cycles),
        "rows_per_s": run.rows / sum(run.cycles),
        "write_s.p50": statistics.median(run.cycle_writes),
        "query_s.p50": statistics.median(queries),
        "queries_per_s": len(queries) / sum(queries),
        "store_bytes_per_user_byte": wl.store_bytes_per_user_byte(),
        "peak_rss_mb": rss,
    }
    extra = {
        "query_s.tail": tail, "query_s.tail_percentile": pct, "query_s.samples": n,
        "cycles": len(run.cycles), "cycle_s": run.cycles,
        "error_rate": run.failed / max(run.attempted, 1),
        "op_s.p50": {lab: statistics.median(s for _k, l, s in run.ops if l == lab)
                     for lab in dict.fromkeys(l for _k, l, _s in run.ops)},
    }
    return m, extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("elt_daily", "curation_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "smoke"),
                    help="input size; 'smoke' is the smallest, for the smoke test")
    ap.add_argument("--break-check", action="store_true",
                    help="corrupt one expected value (smoke test of verification)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        import from_superset_to_clickhouse_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    t_start = time.perf_counter()
    try:
        spark, evdir = start_spark(work, bool(args.trace))
        phases = {"session_s": time.perf_counter() - t_start}
        wl = make_workload(args.workload, spark, work, args.seed, args.size)
        wl.break_check = args.break_check
        setup = []
        for _ in range(1 if args.trace else wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup()
            setup.append(time.perf_counter() - t0)
        phases["setup_s"] = setup
        t0 = time.perf_counter()
        warm = Run()
        if wl.warmup:
            wl.iteration(warm)                  # untimed warm-up, still verified
        phases["warmup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if not args.trace:
            run = Run()
            loop(wl, run, args.seconds, wl.min_cycles)
            rss = peak_rss_mb(spark)
            metrics, extra = e2e_metrics(run, wl, setup, rss)
            out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
            runs = [warm, run]
        else:
            from tracing import Tracer, empty_job_s, per_layer_metrics

            tracer = Tracer(spark, evdir)
            tracer.install()
            empty0 = empty_job_s(spark)
            plain, traced = Run(), Run(tracer)
            # Untraced and traced cycles in ABBA order, so warm-up drift
            # cancels out of the overhead estimate.
            for r in (plain, traced, traced, plain):
                tracer.enabled = r is traced
                loop(wl, r, 0, min_cycles=len(r.cycles) + 1)
            tracer.enabled = False
            empty1 = empty_job_s(spark)
            rss = peak_rss_mb(spark)
            e_plain, _ = e2e_metrics(plain, wl, setup, rss)
            e_traced, extra = e2e_metrics(traced, wl, setup, rss)
            spark_ops = tracer.attribute()
            per_layer = per_layer_metrics(tracer, spark_ops, traced, wl,
                                          (empty0 + empty1) / 2)
            tracer.uninstall()
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
            overhead = {k: e_traced[k] - e_plain[k] for k in e_plain if k != "setup_s"}
            with open(os.path.join(os.getcwd(), ".bench_work",
                                   f"layers-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"per_layer": per_layer, "untraced": e_plain, "traced": e_traced,
                           "tracing_overhead": overhead, "ops": spark_ops},
                          f, indent=1, default=str)
            print(f"tracing overhead (traced - untraced): {json.dumps(overhead)}",
                  file=sys.stderr)
            runs = [warm, plain, traced]
        attempted = sum(r.attempted for r in runs)
        failed = sum(r.failed for r in runs)
        phases["loop_s"] = time.perf_counter() - t0
        info = {"workload": args.workload, "seed": args.seed,
                "inputs_sha256": wl.digest.hexdigest(), **extra, "phases": phases}
        print(json.dumps(info), file=sys.stderr)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": out_metrics}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
