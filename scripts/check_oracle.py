#!/usr/bin/env python3
"""Local oracle harness: verify __spark_entry__.queries() vs oracle_sql().

Mimics the driver's t2 gate: for every name in queries(), run the Spark
query at --sf-dir and the matching oracle_sql() in DuckDB over the same
parquet files (fixture tables pre-registered as views), then compare

  - row count,
  - schema (column names, sorted),
  - order-insensitive value hash (columns sorted by name, rows sorted by
    their stringified tuple, values normalized: floats via repr, NaN/None
    collapsed, timestamps/dates via isoformat).

Exit 0 iff every declared pair matches. Run this before every commit that
touches __spark_entry__.py:

    python scripts/check_oracle.py --sf-dir /root/testdata/sf0.01

``--pandas-canon`` additionally replays the DRIVER's canonicalization
path (proven round 5): the driver fetches the DuckDB side via ``.df()``
(a pandas DataFrame) and sorts via ``DataFrame.sort_values``.  That path
has two failure modes the fetchall() comparison above is structurally
blind to, both of which burned window slots in round 5:

  1. DuckDB HUGEINT (``sum(INTEGER)``, ``sum(CASE...)``) converts to
     float64 in pandas -> ``149174.0`` vs Spark's ``149174`` -> hash
     mismatch.  Every integer sum in oracle SQL must be ``::BIGINT``.
  2. list/array-typed output columns make ``sort_values`` raise
     ``TypeError: unhashable type: 'list'`` -> err row.  Serialize
     arrays (``array_join`` / ``array_to_string``) in window entries.

With the flag, BOTH sides are round-tripped through pandas and sorted
with ``sort_values`` before hashing, so either failure mode fails HERE
before it can fail in the driver.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # collapse -0.0
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def pandas_canon_hash(pdf) -> tuple[int, str, str]:
    """Driver-faithful canonicalization: sort columns by name, sort rows
    via pandas ``sort_values`` (raises TypeError on list columns exactly
    like the driver's canonicalizer), then hash the normalized values.
    pandas-native scalars (numpy int64/float64, pd.Timestamp, pd.NA) are
    normalized through their Python equivalents so a correct pair hashes
    identically in both modes."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort")  # may raise: lists

    def norm_cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
            return "NULL" if v is None or v is pd.NaT else "NaN"
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.floating,)):
            return norm_value(float(v))
        if isinstance(v, np.bool_):
            return "true" if bool(v) else "false"
        if isinstance(v, pd.Timestamp):
            # DuckDB .df() renders DATE as midnight datetime64 while Spark
            # toPandas keeps datetime.date — collapse exact midnights to
            # date form on BOTH sides so date columns compare equal (the
            # driver demonstrably tolerates this: agg_merge's DATE column
            # was green in r5).
            if v.tz is None and v == v.normalize():
                return v.date().isoformat()
            return v.to_pydatetime().isoformat(sep=" ", timespec="microseconds")
        if isinstance(v, dt.datetime) and v.tzinfo is None and (
            v.hour == v.minute == v.second == v.microsecond == 0
        ):
            return v.date().isoformat()
        if isinstance(v, np.ndarray):
            return "[" + ",".join(norm_cell(x) for x in v.tolist()) + "]"
        return norm_value(v)

    lines = sorted(
        "\x1f".join(norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]
    return len(lines), ",".join(cols), h


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted(
        "\x1f".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]
    return len(rows), ",".join(sorted_cols), h


def module_entries(entrymod, module: str) -> list[str]:
    """Registry entries whose query body calls a public function of
    ``operators/<module>.py``: a call, found by AST, to a name imported
    from that module (in the body or at module level) or to an
    attribute of an alias of it. Entries that reach the module only
    through another helper are not selected."""
    import ast
    import inspect

    modpath = f"from_superset_to_clickhouse_spark.operators.{module}"
    tree = ast.parse(inspect.getsource(entrymod))

    def imports(body) -> tuple[set[str], set[str]]:
        names, aliases = set(), set()
        for node in body:
            if isinstance(node, ast.ImportFrom):
                if node.module == modpath:
                    names |= {
                        a.asname or a.name for a in node.names
                        if not a.name.startswith("_")
                    }
                elif node.module == modpath.rsplit(".", 1)[0]:
                    aliases |= {
                        a.asname or a.name for a in node.names
                        if a.name == module
                    }
            elif isinstance(node, ast.Import):
                aliases |= {a.asname for a in node.names if a.name == modpath}
        return names, aliases

    top_names, top_aliases = imports(tree.body)
    funcs = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }

    def calls_module(fn: ast.FunctionDef) -> bool:
        names, aliases = imports(ast.walk(fn))
        names |= top_names
        aliases |= top_aliases
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name) and f.id in names:
                return True
            if (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.value.id in aliases
                and not f.attr.startswith("_")
            ):
                return True
        return False

    return [
        name
        for name, fn in entrymod.queries().items()
        if getattr(fn, "__name__", None) in funcs
        and calls_module(funcs[fn.__name__])
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", help="subset of query names")
    ap.add_argument(
        "--module",
        help="check only the entries whose q_* body calls a public "
        "function of operators/<MODULE>.py (found by AST: a call to a "
        "name imported from that module, in the body or at module "
        "level, or to an attribute of an alias of it)",
    )
    ap.add_argument(
        "--pandas-canon",
        action="store_true",
        help="replay the driver's pandas canonicalization (catches "
        "HUGEINT->float64 and list-column sort crashes)",
    )
    args = ap.parse_args()

    # Composite entries mkdtemp throwaway TableStores; funnel them into
    # one root removed at exit so repeated runs don't accumulate
    # fixture-sized copies under /tmp.
    import atexit
    import shutil
    import tempfile

    workdir = tempfile.mkdtemp(prefix="check_oracle_")
    tempfile.tempdir = workdir
    atexit.register(lambda: shutil.rmtree(workdir, ignore_errors=True))

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("check_oracle")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.only or (
        module_entries(entrymod, args.module) if args.module
        else list(queries)
    )
    failures, no_oracle = [], []
    for name in names:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            scols = sdf.columns
            if args.pandas_canon:
                s_n, s_schema, s_hash = pandas_canon_hash(sdf.toPandas())
            else:
                srows = [tuple(r) for r in sdf.collect()]
                s_n, s_schema, s_hash = table_hash(scols, srows)
        except Exception:
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc()
            failures.append(name)
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            no_oracle.append(name)
            print(f"rows-only  {name}: {s_n} rows ({spark_t:.1f}s, no oracle)")
            continue
        t0 = time.time()
        try:
            cur = con.execute(oracles[name])
            if args.pandas_canon:
                o_n, o_schema, o_hash = pandas_canon_hash(cur.df())
            else:
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                o_n, o_schema, o_hash = table_hash(ocols, orows)
        except Exception:
            print(f"FAIL  {name}: oracle sql raised")
            traceback.print_exc()
            failures.append(name)
            continue
        duck_t = time.time() - t0
        ok = (s_n == o_n) and (s_schema == o_schema) and (s_hash == o_hash)
        status = "OK   " if ok else "FAIL "
        print(
            f"{status} {name}: spark {s_n} rows {spark_t:.1f}s | duck {o_n} rows {duck_t:.1f}s"
        )
        if not ok:
            failures.append(name)
            if s_schema != o_schema:
                print(f"      schema spark={s_schema}")
                print(f"      schema duck ={o_schema}")
            if s_n != o_n:
                print(f"      rowcount spark={s_n} duck={o_n}")
            if (
                s_hash != o_hash
                and s_schema == o_schema
                and s_n == o_n
                and not args.pandas_canon
            ):
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("\x1f".join(norm_value(r[i]) for i in order) for r in srows)
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                oset = sorted("\x1f".join(norm_value(r[i]) for i in order_o) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        print(f"      first diff:\n       spark {a!r}\n       duck  {b!r}")
                        break
    print(
        f"\n{len(names) - len(failures) - len(no_oracle)} ok, "
        f"{len(no_oracle)} rows-only, {len(failures)} FAILED of {len(names)}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
