#!/usr/bin/env python3
"""Per-query performance probe (guide §1: measure first).

Runs ONE declared query (or a comma list) end-to-end with the noop sink
exactly like bench.py, with the Spark event log enabled, then parses the
event log and prints a per-stage time attribution (stage wall, task time,
shuffle read/write bytes, rows, stage name) plus the job count. This is
the local stand-in for the Spark UI (disabled in the sandbox): it answers
"where do the seconds of query X actually go?"

Usage:
    python scripts/perf_probe.py pq_topk
    python scripts/perf_probe.py pagerank_nations --runs 2
    python scripts/perf_probe.py scc --explain   # also dump formatted plan
    python scripts/perf_probe.py kcore,scc --runs 1   # jobs per name too
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", help="comma-separated query names")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="sg_evlog_")
    import __spark_entry__ as entrymod
    from from_superset_to_clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name="perf_probe",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    load_table(spark, SF_DIR, "events").limit(100).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(1024).repartition(int(CPUS)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    qmap = entrymod.queries()
    for name in args.names.split(","):
        fn = qmap[name]
        if args.explain:
            df = fn(spark, SF_DIR)
            os.makedirs("plans/r16", exist_ok=True)
            with open(f"plans/r16/{name}_probe.txt", "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"[plan saved to plans/r16/{name}_probe.txt]")
        runs = []
        for i in range(args.runs):
            import gc

            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            spark.sparkContext.setJobDescription(f"probe:{name}:run{i}")
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            t1 = time.monotonic()
            runs.append(t1 - t0)
            spark.sparkContext.setJobDescription(None)
        print(f"\n=== {name}: runs {[round(r, 3) for r in runs]} "
              f"(min {min(runs):.3f}) ===")
    spark.stop()

    # Parse the event log. Attribution is filtered to the probe runs by
    # the `probe:` job-description prefix set above (ADVICE r15: the
    # earlier version summed EVERY stage in the session, counting the
    # warmup noop writes and the load_table prime in the totals).
    logs = []
    for root, _dirs, files in os.walk(evdir):
        logs += [os.path.join(root, f) for f in files if "appstatus" not in f]
    stages = []  # (wall_ms, stage_id, ntasks, sh_read, sh_write, name, desc)
    jobs = 0
    jobs_by_name = {}
    subs = {}

    def _accum(si, *needles) -> int:
        tot = 0
        for acc in si.get("Accumulables", []):
            nm = acc.get("Name") or ""
            if any(n in nm for n in needles):
                try:
                    tot += int(acc.get("Value", 0))
                except (TypeError, ValueError):
                    pass
        return tot

    for lf in logs:
        with open(lf) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description", "")
                    if not desc.startswith("probe:"):
                        continue
                    jobs += 1
                    name = desc.split(":")[1]
                    jobs_by_name[name] = jobs_by_name.get(name, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        subs[sid] = desc
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si["Stage ID"] not in subs:
                        continue  # warmup / load_table prime — not probed
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    if sub is None or comp is None:
                        continue
                    stages.append(
                        (
                            comp - sub,
                            si["Stage ID"],
                            si.get("Number of Tasks", 0),
                            # internal.metrics.* ONLY — the SQL display
                            # twins ("shuffle bytes written", "shuffle
                            # write time" in ns) would double-count or
                            # pollute the byte sums
                            _accum(si, "shuffle.read.remoteBytesRead",
                                   "shuffle.read.localBytesRead"),
                            _accum(si, "shuffle.write.bytesWritten"),
                            si.get("Stage Name", ""),
                            subs.get(si["Stage ID"], ""),
                        )
                    )
    stages.sort(reverse=True)
    print(f"\nprobe jobs: {jobs}, stages: {len(stages)}, "
          f"stage wall sum: {sum(s[0] for s in stages) / 1000:.2f}s, "
          f"shuffle read {sum(s[3] for s in stages) / 1e6:.1f} MB, "
          f"write {sum(s[4] for s in stages) / 1e6:.1f} MB")
    for name in args.names.split(","):
        print(f"probe jobs [{name}]: {jobs_by_name.get(name, 0)}")
    print(f"{'wall_ms':>8} {'stg':>5} {'tasks':>5} {'shR_MB':>7} "
          f"{'shW_MB':>7}  name / job description")
    for wall, sid, ntask, shr, shw, sname, desc in stages[: args.top]:
        print(f"{wall:>8} {sid:>5} {ntask:>5} {shr / 1e6:>7.1f} "
              f"{shw / 1e6:>7.1f}  {sname[:48]} | {desc[:40]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
