#!/usr/bin/env python3
"""Count the py4j responses that outgrow the JVM side's response buffer.

py4j's JVM side writes each response through an 8,192-char buffer with
Nagle's algorithm on, so a longer response stalls ~44 ms waiting for a
delayed ACK (see ``fsio``'s module docstring). This runs one perfbench
workload in-process with the py4j client's ``send_command`` wrapped and
prints, per set-up and per cycle, how many responses went over the
buffer, the seconds those calls took and the library call site that made
them (the innermost two package frames). It also prints each
TableStore table's ``_table_meta.json`` size after every phase, so a
meta that grows with the cycles shows.

Usage, from the root of a checkout:

    python3 scripts/py4j_spills.py --workload elt_daily --cycles 4
    python3 scripts/py4j_spills.py --workload curation_ops --cycles 2

It builds the workload through ``perfbench/run.py`` (same session
settings, same inputs for a seed) and edits nothing under ``perfbench/``.
Timings include the wrapper's own cost; counts do not depend on it.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from from_superset_to_clickhouse_spark.fsio import PY4J_RESPONSE_CHARS  # noqa: E402
from from_superset_to_clickhouse_spark.tablestore import META_FILE  # noqa: E402

PACKAGE = "from_superset_to_clickhouse_spark"


def call_site() -> str:
    """The innermost two frames inside the package, outer first, as
    ``module.function`` (``<outside>`` when the call came from elsewhere)."""
    names = []
    for fr in reversed(traceback.extract_stack()[:-2]):
        rel = os.path.relpath(fr.filename, ROOT)
        if rel.startswith(PACKAGE + os.sep):
            mod = os.path.splitext(os.path.basename(rel))[0]
            names.append(f"{mod}.{fr.name}")
            if len(names) == 2:
                break
    return " -> ".join(reversed(names)) or "<outside>"


class Spills:
    """Wraps ``send_command`` of the session's py4j client class."""

    def __init__(self, client_cls):
        self.client_cls = client_cls
        self.orig = client_cls.send_command
        self.reset()

    def reset(self) -> None:
        self.responses = 0
        self.max_chars = 0
        self.sites = defaultdict(lambda: [0, 0.0])  # site → [count, seconds]

    def install(self) -> None:
        spills, orig = self, self.orig

        def send_command(client, command, *a, **kw):
            t0 = time.perf_counter()
            answer = orig(client, command, *a, **kw)
            dt = time.perf_counter() - t0
            # send_command strips the leading "!" and the trailing newline.
            chars = len(answer) + 2
            spills.responses += 1
            spills.max_chars = max(spills.max_chars, chars)
            if chars > PY4J_RESPONSE_CHARS:
                rec = spills.sites[call_site()]
                rec[0] += 1
                rec[1] += dt
            return answer

        self.client_cls.send_command = send_command

    def uninstall(self) -> None:
        self.client_cls.send_command = self.orig


def meta_sizes(wl) -> str:
    store = getattr(wl, "store", None)
    if store is None:
        return "-"
    return " ".join(
        f"{t}={os.path.getsize(os.path.join(store.path(t), META_FILE))}"
        for t in store.tables()
    )


def report(phase: str, spills: Spills, wall: float, wl) -> None:
    n = sum(c for c, _s in spills.sites.values())
    s = sum(s for _c, s in spills.sites.values())
    print(f"{phase:<10} {wall:7.2f} {spills.responses:9d} {spills.max_chars:9d} "
          f"{n:6d} {s:7.3f}  {meta_sizes(wl)}", flush=True)
    for site, (c, secs) in sorted(spills.sites.items(), key=lambda kv: -kv[1][1]):
        print(f"    {c:5d} {secs:7.3f} s  {site}", flush=True)
    spills.reset()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("elt_daily", "curation_ops"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cycles", type=int, default=4)
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    import run as bench

    work = os.path.join(os.getcwd(), ".bench_work", f"py4j_spills-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark, _ = bench.start_spark(work, traced=False)
        wl = bench.make_workload(args.workload, spark, work, args.seed, args.size)
        spills = Spills(type(spark._jvm._gateway_client))
        spills.install()
        print(f"{'phase':<10} {'wall_s':>7} {'responses':>9} {'max_chars':>9} "
              f"{'over':>6} {'over_s':>7}  meta bytes per table", flush=True)
        for i in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup()
            report(f"setup {i + 1}", spills, time.perf_counter() - t0, wl)
        run = bench.Run()
        if wl.warmup:
            t0 = time.perf_counter()
            wl.iteration(run)
            report("warm-up", spills, time.perf_counter() - t0, wl)
        for i in range(args.cycles):
            t0 = time.perf_counter()
            wl.iteration(run)
            report(f"cycle {i + 1}", spills, time.perf_counter() - t0, wl)
        spills.uninstall()
        print(f"failed {run.failed} of {run.attempted} verified operations", flush=True)
        return 0 if run.failed == 0 else 1
    finally:
        if spark is not None:
            bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
