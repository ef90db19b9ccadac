"""Statistics operators on degenerate inputs and the shared rank layer.

A rank test on an input too small or too tied to have a sampling
distribution must return NULL for what it cannot define — DuckDB's
answer for a division by zero — never kill the query with an ANSI
DIVIDE_BY_ZERO, and its counts must still count the rows it ranked.
"""

import math
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.operators import stats as st
from from_superset_to_clickhouse_spark.operators._exact import (
    row_ranks,
    value_ranks,
)

SCHEMA = "id int, g string, v double, k string"

CASES = {
    "empty": [],
    "one_row": [("a", 1.0)],
    "one_per_arm": [("a", 1.0), ("b", 2.0)],
    "all_tied": [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
    "one_arm": [("a", 1.0), ("a", 2.0), ("a", 3.0)],
    "all_null": [("a", None), ("b", None)],
}

# operator -> (call, count columns -> counted arm (None = all arms),
# statistic columns)
OPS = {
    "mann_whitney_u": (
        lambda d: st.mann_whitney_u(d, "v", F.col("g")),
        {"n_a": "a", "n_b": "b"},
        ("u", "z", "p_value"),
    ),
    "cliffs_delta": (
        lambda d: st.cliffs_delta(d, "v", F.col("g")),
        {"n_a": "a", "n_b": "b"},
        ("u", "delta"),
    ),
    "brunner_munzel": (
        lambda d: st.brunner_munzel(d, "v", F.col("g")),
        {"n_a": "a", "n_b": "b"},
        ("p_hat", "w_stat", "df_approx", "p_value"),
    ),
    "cucconi_test": (
        lambda d: st.cucconi_test(d, "g", "a", "b", "v"),
        {"n_a": "a", "n_b": "b"},
        ("u_stat", "v_stat", "c_stat", "p_value"),
    ),
    "klotz_test": (
        lambda d: st.klotz_test(d, "g", "a", "b", "v"),
        {"n_a": "a", "n_b": "b"},
        ("t_stat", "z_stat"),
    ),
    "lepage_test": (
        lambda d: st.lepage_test(d, "g", "a", "b", "v"),
        {"n_a": "a", "n_b": "b"},
        ("w_part", "a_part", "l_stat", "p_value"),
    ),
    "van_der_waerden": (
        lambda d: st.van_der_waerden(d, "g", "v"),
        {"n": None},
        ("t_stat", "p_value"),
    ),
    "kruskal_wallis": (
        lambda d: st.kruskal_wallis(d, "v", "g"),
        {"n": None},
        ("h_stat", "p_value"),
    ),
    "fligner_killeen": (
        lambda d: st.fligner_killeen(d, "v", "g"),
        {"n": None},
        ("chi2", "p_value"),
    ),
}

# the column that needs a sampling distribution: NULL on every
# degenerate input with rows, except where listed in DEFINED
TEST_COL = {
    "mann_whitney_u": "p_value",
    "cliffs_delta": "delta",
    "brunner_munzel": "p_value",
    "cucconi_test": "p_value",
    "klotz_test": "z_stat",
    "lepage_test": "p_value",
    "van_der_waerden": "p_value",
    "kruskal_wallis": "p_value",
    "fligner_killeen": "p_value",
}
# two single rows in different arms still have a normal approximation
# (or an effect size); cucconi and lepage use untied null moments, so a
# fully tied sample keeps a value (their documented tie contract)
DEFINED = {
    ("mann_whitney_u", "one_per_arm"),
    ("cliffs_delta", "one_per_arm"),
    ("cliffs_delta", "all_tied"),
    ("cucconi_test", "all_tied"),
    ("lepage_test", "all_tied"),
    ("van_der_waerden", "one_per_arm"),
    ("kruskal_wallis", "one_per_arm"),
}


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, g, v, "k") for i, (g, v) in enumerate(rows)], SCHEMA
    )


def _check(op, case, out):
    _, counts, stats = OPS[op]
    rows = CASES[case]
    ranked = [g for g, v in rows if v is not None]
    if not ranked:
        # nothing ranked: no row, or one row of NULL/zero counts
        for r in out:
            assert all(r[c] in (None, 0) for c in counts), (case, r)
            assert all(r[c] is None for c in stats), (case, r)
        return
    assert len(out) == 1, (case, out)
    r = out[0]
    for col, arm in counts.items():
        want = sum(1 for g in ranked if arm is None or g == arm)
        assert r[col] == want, (case, col, r)
    for col in stats:
        assert r[col] is None or math.isfinite(r[col]), (case, col, r)
    if (op, case) in DEFINED:
        assert r[TEST_COL[op]] is not None, (case, r)
    else:
        assert r[TEST_COL[op]] is None, (case, r)


@pytest.mark.parametrize("op", list(OPS))
def test_rank_tests_on_degenerate_inputs(spark, op):
    # the six inputs are independent queries of a few tiny jobs each:
    # run them side by side so the test is not bound by job latency
    call = OPS[op][0]
    with ThreadPoolExecutor(len(CASES)) as pool:
        outs = pool.map(
            lambda rows: call(_frame(spark, rows)).collect(),  # no raise
            CASES.values(),
        )
        for case, out in zip(CASES, outs):
            _check(op, case, out)


def test_mann_whitney_does_not_rank_nulls(spark):
    nulls = _frame(spark, [("a", None), ("b", None)])
    r = st.mann_whitney_u(nulls, "v", F.col("g")).first()
    assert (r["n_a"], r["n_b"], r["u"]) == (None, None, None)
    mixed = _frame(
        spark, [("a", None), ("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)]
    )
    r = st.mann_whitney_u(mixed, "v", F.col("g")).first()
    assert (r["n_a"], r["n_b"], r["u"]) == (2, 2, 0.0)


def test_grouped_mann_whitney_survives_a_one_row_group(spark):
    rows = [(0, "a", 1.0, "x"), (1, "a", 2.0, "y"), (2, "b", 5.0, "y"),
            (3, "b", 6.0, "y")]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        r["k"]: r for r in st.mann_whitney_u(df, "v", F.col("g"), ["k"])
        .collect()
    }
    assert out["x"]["p_value"] is None and out["x"]["n_a"] == 1
    assert out["y"]["u"] == 0.0 and out["y"]["p_value"] is not None


def test_value_and_row_ranks_agree(spark):
    # cross-arm ties, a NULL group key and a NULL value
    rows = [
        (0, "a", 1.0, "x"), (1, "b", 1.0, "x"), (2, "a", 2.0, "x"),
        (3, "b", 2.0, "x"), (4, "b", 2.0, "x"), (5, "a", 7.0, "x"),
        (6, "a", 3.0, None), (7, "b", 3.0, None), (8, "a", None, "x"),
        (9, "b", 4.0, "x"),
    ]
    df = spark.createDataFrame(rows, SCHEMA).filter(F.col("v").isNotNull())
    vt = value_ranks(
        df, "v", ["k"],
        _ca=F.count(F.when(F.col("g") == "a", 1)),
        _cb=F.count(F.when(F.col("g") == "b", 1)),
    )
    by_value = {
        (r["k"], "a"): r["ra"] for r in vt.groupBy("k").agg(
            F.sum(F.col("_ca") * F.col("_mr")).alias("ra")
        ).collect()
    } | {
        (r["k"], "b"): r["rb"] for r in vt.groupBy("k").agg(
            F.sum(F.col("_cb") * F.col("_mr")).alias("rb")
        ).collect()
    }
    by_row = {
        (r["k"], r["g"]): r["rs"] for r in row_ranks(df, "v", ["k"])
        .groupBy("k", "g").agg(F.sum("_r").alias("rs")).collect()
    }
    assert by_value == by_row
    # group x: values 1,1,2,2,2,4,7 -> midranks 1.5,1.5,4,4,4,6,7
    assert by_row[("x", "a")] == 1.5 + 4 + 7
    assert by_row[("x", "b")] == 1.5 + 4 + 4 + 6

    # spearman keeps its row set: NULL x/y and NULL group keys drop
    sp = spark.createDataFrame(
        [(1.0, 2.0, "x"), (2.0, 1.0, "x"), (3.0, 3.0, "x"),
         (None, 1.0, "x"), (4.0, None, "x"), (5.0, 5.0, None)],
        "x double, y double, k string",
    )
    out = st.spearman_corr(sp, "x", "y", ["k"]).collect()
    assert [(r["k"], r["n"], r["rho"]) for r in out] == [("x", 3, 0.5)]


def test_rank_oracles_match_spark_on_null_values_and_a_missing_arm(
    spark, tmp_path
):
    """The registry's cliffs_delta, mann_whitney and fdr_tests twins on
    an events table the fixtures never produce: NULL values, which Spark
    drops before ranking, and no 'purchase' rows, so cliffs_delta's arm
    'a' is empty and its magnitude is NULL like its delta."""
    import datetime as dt

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 28), i % 5, typ,
         None if i % 7 == 3 else float(i % 6), "")
        for i, typ in enumerate(["click", "view", "cart"] * 12)
    ]
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    oracles, qmap = entry.oracle_sql(), entry.queries()
    for name in ("cliffs_delta", "mann_whitney", "fdr_tests"):
        got = sorted(
            (tuple(r) for r in qmap[name](spark, str(tmp_path)).collect()),
            key=repr,
        )
        want = sorted(con.execute(oracles[name]).fetchall(), key=repr)
        assert got == want, name
    (cliffs,) = qmap["cliffs_delta"](spark, str(tmp_path)).collect()
    assert cliffs["n_a"] == 0 and cliffs["delta"] is None
    assert cliffs["magnitude"] is None
