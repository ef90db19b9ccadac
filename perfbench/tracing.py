"""Benchmark-side tracing: spans around calls into each engine layer.

Nothing inside the package changes. In a traced run the benchmark

- wraps each timed operation in its own Spark job group and attributes
  every job in the Spark event log to an operation (by group, or by
  submission time for jobs launched from pool threads, which do not
  inherit the group);
- wraps public functions of ``watermark``, ``operators.ingest``,
  ``TableStore``, ``DictionaryRegistry`` and every ``Fs`` method, and
  times them (outermost call per layer only, so nested calls inside one
  layer are not counted twice);
- reads the ``Pipeline`` logger's "step X done in Ys" lines.

Spans live in memory and are reduced to per-layer metrics at the end.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import logging
import os
import re
import statistics
import sys
import time
from collections import defaultdict

WRITE_LAYERS = ("tablestore.append", "tablestore.delete_where",
                "tablestore.compact", "tablestore.merge_into")
_STEP_RE = re.compile(r"step (\S+) done in ([0-9.]+)s")


class _StepLog(logging.Handler):
    def __init__(self, sink: dict):
        super().__init__(logging.INFO)
        self.sink = sink

    def emit(self, record):
        m = _STEP_RE.search(record.getMessage())
        if m:
            self.sink[m.group(1)].append(float(m.group(2)))


class Tracer:
    """Collects per-layer time and counts for one benchmark run."""

    def __init__(self, spark, evdir: str):
        self.spark = spark
        self.evdir = evdir
        self.layer_s = defaultdict(float)      # layer → busy seconds
        self.layer_calls = defaultdict(int)    # layer → outermost calls
        self.counts = defaultdict(float)       # free-form counters
        self.steps = defaultdict(list)         # pipeline step → [seconds]
        self.ops = []                          # (group, label, t0, t1, phases)
        self.enabled = False
        self._active = set()
        self._undo = []
        self._n = 0

    # -- wrapping ------------------------------------------------------------

    def _wrap(self, owner, attr: str, layer: str, after=None):
        orig = getattr(owner, attr)
        if isinstance(inspect.getattr_static(owner, attr), property):
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled or layer in tracer._active:
                return orig(*a, **kw)
            tracer._active.add(layer)
            before = after.before(tracer, a, kw) if after is not None else None
            t0 = time.perf_counter()
            try:
                out = orig(*a, **kw)
            finally:
                tracer.layer_s[layer] += time.perf_counter() - t0
                tracer.layer_calls[layer] += 1
                tracer._active.discard(layer)
            if after is not None:
                after.after(tracer, a, kw, out, before)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))
        # Modules that imported the function by name hold their own
        # binding; rebind those too so every call site is traced.
        if inspect.ismodule(owner):
            for mod in list(sys.modules.values()):
                if (
                    mod is not owner
                    and getattr(mod, "__name__", "").startswith(
                        "from_superset_to_clickhouse_spark")
                    and getattr(mod, attr, None) is orig
                ):
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, orig))

    def install(self) -> None:
        from from_superset_to_clickhouse_spark import dictionary, fsio, watermark
        from from_superset_to_clickhouse_spark.operators import ingest as ingest_mod
        # Loaded first so its by-name import of ``ingest`` is rebound below.
        from from_superset_to_clickhouse_spark.plans import reference_pipelines  # noqa: F401
        from from_superset_to_clickhouse_spark.tablestore import TableStore

        self._wrap(watermark, "probe", "watermark.probe")
        self._wrap(ingest_mod, "ingest", "ingest", _IngestRows())
        for layer in WRITE_LAYERS:
            self._wrap(TableStore, layer.split(".")[1], layer, _FilesWritten())
        for attr in ("read", "latest_view", "read_where", "read_eq", "read_since"):
            self._wrap(TableStore, attr, "tablestore.read_construct")
        for attr in ("zone_prune_partitions", "bloom_prune_partitions"):
            self._wrap(TableStore, attr, "tablestore.prune", _PruneRatio())
        self._wrap(dictionary.DictionaryRegistry, "get", "dictionary.get")
        for attr, fn in vars(fsio.Fs).items():
            if callable(fn) and not attr.startswith("_"):
                self._wrap(fsio.Fs, attr, "fsio")
        log = logging.getLogger("from_superset_to_clickhouse_spark.plans.pipeline")
        self._handler = _StepLog(self.steps)
        log.addHandler(self._handler)
        self._prev_level = log.level
        log.setLevel(logging.INFO)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        log = logging.getLogger("from_superset_to_clickhouse_spark.plans.pipeline")
        log.removeHandler(self._handler)
        log.setLevel(self._prev_level)

    # -- operation spans ------------------------------------------------------

    @contextlib.contextmanager
    def op(self, label: str):
        """Span for one timed operation: its own job group."""
        if not self.enabled:
            yield
            return
        self._n += 1
        group = f"bench-op-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, label)
        phases = {}
        t0 = time.time()
        try:
            yield phases
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops.append((group, label, t0, t1, phases))

    # -- event log -------------------------------------------------------------

    def _events(self):
        for root, _dirs, files in os.walk(self.evdir):
            for f in files:
                with open(os.path.join(root, f)) as fh:
                    for line in fh:
                        try:
                            yield json.loads(line)
                        except json.JSONDecodeError:
                            continue

    def attribute(self) -> dict:
        """Per-op Spark figures from the event log → {group: dict}."""
        jobs = {}        # job id → [group, submit_ms, end_ms, stage ids]
        stage_acc = {}   # stage id → (run_ms, shuffle_bytes, python_bytes)
        for ev in self._events():
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = [
                    props.get("spark.jobGroup.id"), ev.get("Submission Time", 0),
                    None, ev.get("Stage IDs", []),
                ]
            elif et == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev.get("Completion Time")
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                run = sh = py = 0
                for acc in si.get("Accumulables", []):
                    nm = acc.get("Name") or ""
                    try:
                        v = int(acc.get("Value", 0))
                    except (TypeError, ValueError):
                        continue
                    if nm == "internal.metrics.executorRunTime":
                        run += v
                    elif nm == "internal.metrics.shuffle.write.bytesWritten":
                        sh += v
                    elif nm.startswith("data sent to Python workers"):
                        py += v
                stage_acc[si["Stage ID"]] = (run, sh, py)
        by_group = {g: (t0, t1, ph) for g, _l, t0, t1, ph in self.ops}
        out = {g: {"label": label, "jobs": 0, "construct_jobs": 0, "task_s": 0.0,
                   "shuffle_bytes": 0, "python_bytes": 0, "intervals": [],
                   "stages": set()}
               for g, label, *_ in self.ops}
        for group, submit, end, stages in jobs.values():
            if group not in by_group:
                # Jobs from pool threads carry no group: attribute by time.
                group = next(
                    (g for g, (t0, t1, _p) in by_group.items()
                     if t0 * 1000 <= submit <= t1 * 1000), None)
                if group is None:
                    continue
            rec = out[group]
            rec["jobs"] += 1
            ph = by_group[group][2]
            if "construct_end" in ph and submit <= ph["construct_end"] * 1000:
                rec["construct_jobs"] += 1
            # A reused shuffle stage is listed (skipped) by later jobs too.
            rec["stages"].update(stages)
            rec["intervals"].append((submit / 1000, (end or submit) / 1000))
        for g, (t0, t1, _ph) in by_group.items():
            rec = out[g]
            for sid in rec.pop("stages"):
                run, sh, py = stage_acc.get(sid, (0, 0, 0))
                rec["task_s"] += run / 1000
                rec["shuffle_bytes"] += sh
                rec["python_bytes"] += py
            rec["driver_gap_s"] = (t1 - t0) - _union(rec.pop("intervals"), t0, t1)
        return out


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _IngestRows:
    def before(self, tracer, a, kw):
        return None

    def after(self, tracer, a, kw, out, before):
        if isinstance(out, int):
            tracer.counts["ingest.rows"] += out


def _table_files(store, name: str) -> dict:
    files = {}
    base = store.path(name)
    for root, dirs, fs in os.walk(base):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                files[p] = os.path.getsize(p)
    return files


class _FilesWritten:
    """Data files a TableStore mutation leaves that were not there before
    (outermost mutation only: merge_into's inner append is not counted
    twice)."""

    def before(self, tracer, a, kw):
        if sum(l in WRITE_LAYERS for l in tracer._active) > 1:
            return None
        return _table_files(a[0], a[1] if len(a) > 1 else kw["name"])

    def after(self, tracer, a, kw, out, before):
        if before is None:
            return
        store, name = a[0], a[1] if len(a) > 1 else kw["name"]
        now = _table_files(store, name)
        new = [p for p in now if p not in before]
        tracer.counts["tablestore.files_written"] += len(new)
        tracer.counts["tablestore.bytes_written"] += sum(now[p] for p in new)


class _PruneRatio:
    """Partitions a pruning probe keeps ÷ partitions on disk."""

    def before(self, tracer, a, kw):
        return None

    def after(self, tracer, a, kw, out, before):
        if out is None:
            return
        store, name = a[0], a[1]
        data = os.path.join(store.path(name), "data")
        total = sum(1 for e in os.listdir(data) if "=" in e) if os.path.isdir(data) else 0
        if total:
            tracer.counts["prune.kept"] += len(out)
            tracer.counts["prune.total"] += total


def empty_job_s(spark, n: int = 7) -> float:
    """Median wall time of a one-task job that does nothing."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# name → unit, in the order the traced run reports them. Every name is
# reported on every workload; a layer a workload never calls reads 0.
PER_LAYER_UNITS = {
    "spark.jobs_per_op": "count",
    "spark.construct_jobs_per_op": "count",
    "spark.construct_s_per_op": "s",
    "spark.plan_s_per_op": "s",
    "spark.action_s_per_op": "s",
    "spark.driver_gap_s_per_op": "s",
    "spark.empty_job_s": "s",
    "spark.task_s_per_op": "s",
    "spark.shuffle_bytes_per_op": "bytes",
    "watermark.probe_s": "s",
    "watermark.probe_calls": "count",
    "ingest.s": "s",
    "ingest.rows": "rows",
    "tablestore.append_s": "s",
    "tablestore.delete_where_s": "s",
    "tablestore.compact_s": "s",
    "tablestore.merge_into_s": "s",
    "tablestore.read_construct_s": "s",
    "tablestore.files_written_per_op": "count",
    "tablestore.write_amp": "ratio",
    "tablestore.files_per_partition": "count",
    "tablestore.prune_keep_ratio": "ratio",
    "fsio.calls_per_op": "count",
    "fsio.s_per_op": "s",
    "dictionary.get_s": "s",
    "pipeline.step_s.fact_upload_data": "s",
    "pipeline.step_s.dim_upload_data": "s",
    "pipeline.step_s.delete_old_rows": "s",
    "pipeline.step_s.compact": "s",
    "dedup.minhash_s": "s",
    "dedup.pair_recall": "ratio",
    "similarity.ivf_topk_s": "s",
    "similarity.ivf_recall": "ratio",
    "multimodal.decode_s": "s",
    "multimodal.python_bytes": "bytes",
}

# Curation stage metric → the op labels whose time it sums.
_STAGES = {
    "dedup.minhash_s": ("dedup.minhash",),
    "similarity.ivf_topk_s": ("similarity.ivf_topk",),
    "multimodal.decode_s": ("multimodal.decode",),
}


def per_layer_metrics(tracer: Tracer, spark_ops: dict, run, wl, empty_s: float) -> dict:
    """Reduce one traced loop to {metric: (value, unit)}. ``spark_ops`` is
    ``tracer.attribute()``. Layer times and counts are per cycle;
    ``spark.*_per_op`` and ``fsio.*_per_op`` are per timed operation."""
    cycles = max(len(run.cycles), 1)
    ops = max(len(run.ops), 1)
    per_cycle = lambda v: v / cycles  # noqa: E731
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    ls, lc, c = tracer.layer_s, tracer.layer_calls, tracer.counts
    eager_s = sum(s for k, _l, s in run.ops if k == "write")
    writes = sum(lc[l] for l in WRITE_LAYERS)
    label_of = {g: label for g, label, *_ in tracer.ops}
    py_bytes = sum(rec["python_bytes"] for g, rec in spark_ops.items()
                   if label_of[g] == "multimodal.decode")
    m = {
        "spark.jobs_per_op": mean([r["jobs"] for r in spark_ops.values()]),
        "spark.construct_jobs_per_op": mean([r["construct_jobs"] for r in spark_ops.values()]),
        "spark.construct_s_per_op": sum(run.values.get("spark.construct_s", [])) / ops,
        "spark.plan_s_per_op": sum(run.values.get("spark.plan_s", [])) / ops,
        "spark.action_s_per_op": (sum(run.values.get("spark.action_s", [])) + eager_s) / ops,
        "spark.driver_gap_s_per_op": mean([r["driver_gap_s"] for r in spark_ops.values()]),
        "spark.empty_job_s": empty_s,
        "spark.task_s_per_op": mean([r["task_s"] for r in spark_ops.values()]),
        "spark.shuffle_bytes_per_op": mean([r["shuffle_bytes"] for r in spark_ops.values()]),
        "watermark.probe_s": per_cycle(ls["watermark.probe"]),
        "watermark.probe_calls": per_cycle(lc["watermark.probe"]),
        "ingest.s": per_cycle(ls["ingest"]),
        "ingest.rows": per_cycle(c["ingest.rows"]),
        "tablestore.append_s": per_cycle(ls["tablestore.append"]),
        "tablestore.delete_where_s": per_cycle(ls["tablestore.delete_where"]),
        "tablestore.compact_s": per_cycle(ls["tablestore.compact"]),
        "tablestore.merge_into_s": per_cycle(ls["tablestore.merge_into"]),
        "tablestore.read_construct_s": per_cycle(ls["tablestore.read_construct"]),
        "tablestore.files_written_per_op": c["tablestore.files_written"] / max(writes, 1),
        "tablestore.write_amp": c["tablestore.bytes_written"] / max(run.user_bytes, 1),
        "tablestore.files_per_partition": wl.files_per_partition(),
        "tablestore.prune_keep_ratio": c["prune.kept"] / c["prune.total"] if c["prune.total"] else 0.0,
        "fsio.calls_per_op": lc["fsio"] / ops,
        "fsio.s_per_op": ls["fsio"] / ops,
        "dictionary.get_s": per_cycle(ls["dictionary.get"]),
        "dedup.pair_recall": mean(run.values.get("dedup.pair_recall", [])),
        "similarity.ivf_recall": mean(run.values.get("similarity.ivf_recall", [])),
        "multimodal.python_bytes": py_bytes / cycles,
    }
    for step in ("fact_upload_data", "dim_upload_data", "delete_old_rows", "compact"):
        m[f"pipeline.step_s.{step}"] = mean(tracer.steps.get(step, []))
    for name, labels in _STAGES.items():
        m[name] = per_cycle(sum(s for _k, l, s in run.ops if l in labels))
    return {k: (m[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}
