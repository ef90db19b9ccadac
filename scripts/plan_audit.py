#!/usr/bin/env python3
"""Physical-plan audit: one row per ``queries()`` entry → PLANS.md.

Rows are sorted by entry name, so the file changes only when a plan does.

For every registry entry, captures the plan features the 100 TB design
claims hinge on: join strategies, shuffle (hash-partitioned exchange)
count, single-partition exchanges (global sorts — almost always a scale
bug), Python evaluation nodes (Arrow-batched is the sanctioned crossing;
row-at-a-time is banned), scan-level pushed filters, and whole-stage
codegen spans. Run after adding an operator; diff PLANS.md in review —
a plan regression is a scale regression even when every value is still
correct.

Usage: python scripts/plan_audit.py [--sf-dir /root/testdata/sf0.001]
       [--module temporal] [--out PLANS.md]

``--module`` audits only the entries ``check_oracle.py --module``
selects, to diff one module's rows before and after a change.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


FEATURES = [
    ("BHJ", "BroadcastHashJoin"),
    ("SMJ", "SortMergeJoin"),
    ("BNLJ", "BroadcastNestedLoopJoin"),
    ("cartesian", "CartesianProduct"),
    # formatted-mode syntax: exchanges print as "(N) Exchange" nodes with
    # an "Arguments: hashpartitioning(...)" line; codegen as
    # "[codegen id : K]" suffixes.
    ("shuffles", "hashpartitioning("),
    ("single_part", "SinglePartition"),
    ("arrow_py", None),  # computed below
    ("row_py", "BatchEvalPython"),
    ("codegen", "[codegen id :"),
]

ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="PLANS.md")
    ap.add_argument(
        "--module",
        help="audit only the entries whose q_* body calls a public "
        "function of operators/<MODULE>.py (check_oracle.py's rule)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from from_superset_to_clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name="plan_audit",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Composite/lifecycle entries mkdtemp throwaway TableStores while
    # building their DataFrame; funnel every tempdir of this run into
    # one root and remove it afterwards — repeated audits must not
    # accumulate fixture-sized copies under /tmp.
    workdir = tempfile.mkdtemp(prefix="plan_audit_")
    tempfile.tempdir = workdir

    queries = entrymod.queries()
    if args.module:
        from check_oracle import module_entries

        queries = {
            n: queries[n] for n in module_entries(entrymod, args.module)
        }
    rows = []
    for name in sorted(queries):
        try:
            plan = _plan(queries[name](spark, args.sf_dir))
        except Exception as exc:  # noqa: BLE001 - audit keeps going
            rows.append((name, f"PLAN FAILED: {type(exc).__name__}"))
            continue
        feats = {}
        for key, needle in FEATURES:
            if key == "arrow_py":
                feats[key] = sum(plan.count(n) for n in ARROW_NODES)
            else:
                feats[key] = plan.count(needle)
        pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
        cells = [
            str(feats["BHJ"]) if feats["BHJ"] else "",
            str(feats["SMJ"]) if feats["SMJ"] else "",
            str(feats["BNLJ"]) if feats["BNLJ"] else "",
            "YES" if feats["cartesian"] else "",
            str(feats["shuffles"]),
            "YES" if feats["single_part"] else "",
            str(feats["arrow_py"]) if feats["arrow_py"] else "",
            "YES" if feats["row_py"] else "",
            str(feats["codegen"]),
            "y" if pushed else "",
        ]
        rows.append((name, cells))

    header = (
        "| query | BHJ | SMJ | BNLJ | cartesian! | shuffles | "
        "single-part | arrow-py | row-py! | codegen | pushdown |\n"
        "|---|---|---|---|---|---|---|---|---|---|---|\n"
    )
    body = []
    for name, cells in rows:
        if isinstance(cells, str):
            body.append(f"| {name} | {cells} |" + " |" * 9)
        else:
            body.append("| " + name + " | " + " | ".join(cells) + " |")
    doc = (
        "# PLANS — physical-plan audit of every registry entry\n\n"
        f"Generated by `python scripts/plan_audit.py` at sf-dir "
        f"`{args.sf_dir}`. Columns ending in `!` should be EMPTY — a "
        "cartesian product or a row-at-a-time Python node is a scale "
        "bug. `single-part` marks SinglePartition exchanges: LEGITIMATE "
        "when feeding a scalar/global final aggregate or a documented "
        "small-dim exact twin (ntile_tiers, sketch merge — the exchanged "
        "rows are partial-aggregate stubs, not data); a scale bug when a "
        "full dataset sorts through it (none do — gated in "
        "tests/test_plans.py). `arrow-py` counts sanctioned "
        "Arrow-batched crossings (ANN scoring, multimodal decode). "
        "`shuffles` counts hash-partitioned exchange mentions in the "
        "pre-AQE plan (AQE may remove more at runtime). "
        "Composite/lifecycle entries (stores, streams) report the plan "
        "of their RETURNED DataFrame — the side-effecting stages are "
        "plan-gated in `tests/test_plans.py` and friends.\n\n"
        + header
        + "\n".join(body)
        + "\n"
    )
    tempfile.tempdir = None
    shutil.rmtree(workdir, ignore_errors=True)
    with open(args.out, "w") as f:
        f.write(doc)
    n_flag = sum(
        1
        for _, c in rows
        if isinstance(c, list) and (c[3] == "YES" or c[7] == "YES")
    )
    print(f"wrote {args.out}: {len(rows)} entries, {n_flag} flagged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
