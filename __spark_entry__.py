"""Driver contract: the flagship entry point and the oracle-checked registry.

``entry(spark)`` runs the flagship query (SURVEY.md §7.1) on sf0.001.

Every registry entry is one query function under one decorator::

    @register("name", oracle=SQL)
    def q_name(spark, sf_dir): ...

``register`` records (name, function, oracle) in registration order and
returns the function unchanged; registering a name twice raises. The
oracle is the entry's DuckDB twin over the same fixture tables: the
driver hash-compares the two results (CORRECTNESS_r<N>.json) and
``scripts/check_oracle.py`` replays that comparison locally. The
decorator evaluates the oracle at import, so the SQL helpers and
constants it uses are defined above the entry. q_approx_distinct and
q_sketch_merge are approximate by design and not registered;
tests/test_temporal.py calls them directly.

``queries()`` orders the entries for the driver, which checks only the
first 50: by the latest round whose CORRECTNESS_r<N>.json lists the
name (0 if none), ties in registration order. Never-checked entries
come first, then the oldest-checked; with no CORRECTNESS files the order
is registration order. ``oracle_sql()`` maps every name to its oracle.

Adding an entry: register it with an oracle aliased column for column,
run ``scripts/check_oracle.py --pandas-canon --only <name>`` at sf0.001
and sf0.01, add a pytest reference-model test, and rerun
``scripts/plan_audit.py``. A helper whose plain name is taken gets a
suffix instead: a module-level name defined twice silently changes what
every earlier caller sees.

Engine-parity rules used throughout (verified against DuckDB 1.0):
- month buckets are CAST AS DATE on both sides (DuckDB date_trunc
  returns DATE, Spark returns TIMESTAMP);
- integer sums are ``sum(..)::BIGINT`` in DuckDB (else HUGEINT) and
  LongType in Spark; char/array lengths are cast to INTEGER in DuckDB
  (Spark ``length``/``size`` are IntegerType);
- money/double sums go through an exact-decimal detour
  ``CAST(sum(CAST(x AS DECIMAL(18,d))) AS DOUBLE)`` on BOTH engines so
  the result is order-independent and bit-identical;
- ratios/similarities are computed with the same IEEE operation order
  on both engines, then ``round(.., 6)``.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.dictionary import DictionaryRegistry
from from_superset_to_clickhouse_spark.functions.scalar import (
    json_get,
    mod_shard,
    months_ago,
    with_defaults,
)
from from_superset_to_clickhouse_spark.operators import dedup as ddp
from from_superset_to_clickhouse_spark.operators import quality as dq
from from_superset_to_clickhouse_spark.operators import multimodal as mm
from from_superset_to_clickhouse_spark.operators import similarity as simi
from from_superset_to_clickhouse_spark.operators import sampling as smp
from from_superset_to_clickhouse_spark.operators import temporal as tmp
from from_superset_to_clickhouse_spark.operators import text as txt
from from_superset_to_clickhouse_spark.operators.ingest import build_increment
from from_superset_to_clickhouse_spark.plans.pipeline import Pipeline, Step
from from_superset_to_clickhouse_spark.plans.script import run_script
from from_superset_to_clickhouse_spark.schema import Field, Schema
from from_superset_to_clickhouse_spark.sources.readers import (
    from_pandas,
    read_csv,
    read_json,
    to_pandas,
)
from from_superset_to_clickhouse_spark.sources.testdata import load_table
from from_superset_to_clickhouse_spark.streaming.ingest import (
    running_latest,
    stream_dedup as sdedup,
    stream_source,
    windowed_counts,
)
from from_superset_to_clickhouse_spark.tablestore import TableStore
from from_superset_to_clickhouse_spark import watermark as wm

SF_SMOKE = "/root/testdata/sf0.001"

# Order-independent, engine-agnostic double summation: quantize each value
# to a 2^-20 grid with floor(x * 2^20) — a power-of-two multiply is EXACT
# in IEEE doubles, so Spark and DuckDB produce identical integers per row
# (a decimal cast does not: Spark goes through BigDecimal shortest-repr,
# DuckDB multiplies by 10^d in double — they disagree on full-mantissa
# products). The integer sum is then exact and order-independent.
_FXP = 1 << 20


def _fxp_sum(col):
    return F.sum(F.floor(col * _FXP)).cast("double") / F.lit(_FXP)


def _fxp_sum_sql(expr: str) -> str:
    return f"CAST(sum(CAST(floor(({expr}) * {_FXP}) AS BIGINT)) AS DOUBLE) / {_FXP}"

# The events fixture standing in for the reference's `logs` fact table
# (FIXTURES.md §B; reference DDL v2/sql/create_tables.sql:2-17).
EVENTS = Schema(
    name="events",
    fields=(
        Field("event_id", "bigint", nullable=False),
        Field("ts", "timestamp", nullable=False),
        Field("user_id", "bigint", default=-1),
        Field("event_type", "string", default="undefined"),
        Field("value", "double", default=0.0),
        Field("props", "string", default="{}"),
        Field("source", "string", nullable=False),
    ),
    dedup_key=("event_id",),
    version_col="ts",
    partition_by=("ts_month",),
    sort_by=("event_id",),
    shard_by="event_id",
)


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# The registry: one ``@register(name, oracle=SQL)`` above each entry.
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, tuple[QueryFn, str]] = {}


def register(name: str, *, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Record the decorated function as entry ``name`` whose DuckDB twin
    is ``oracle``; return it unchanged. A name registers once."""

    def add(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"registry entry {name!r} is registered twice")
        _REGISTRY[name] = (fn, oracle)
        return fn

    return add


def _last_checked_round() -> dict[str, int]:
    """Latest driver round N whose CORRECTNESS_rN.json lists each name."""
    last: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), rnd)
    return last


def queries() -> dict[str, QueryFn]:
    """Every entry, never-checked first, then the oldest-checked; ties
    keep registration order. The driver checks only the first 50."""
    last = _last_checked_round()
    order = sorted(_REGISTRY, key=lambda name: last.get(name, 0))
    return {name: _REGISTRY[name][0] for name in order}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items()}


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7.1): watermark filter → NULL→default coercion →
# lit(source) → latest-per-key dedup (row 25) → broadcast dim join
# (row 21) → date_trunc month × event_type agg (rows 18/26/31).
# Semantics per reference v2/sql/f_superset_logs_upload_data.sql:1-14 +
# v2/dag.py:106-114.
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = """
WITH inc AS (
  SELECT event_id, ts, user_id, event_type, coalesce(value, 0.0) AS value,
         'superset' AS source
  FROM events
  WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
), ded AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM inc) WHERE rn = 1
), j AS (
  SELECT d.*, c.c_mktsegment
  FROM ded d LEFT JOIN customer c ON d.user_id = c.c_custkey
)
SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
       count(*) AS n_events,
       count(DISTINCT c_mktsegment) AS n_segments,
       max(value) AS max_value,
       CAST(sum(CAST(floor(value * 1048576) AS BIGINT)) AS DOUBLE)
         / 1048576 AS sum_value,
       max(ts) AS last_ts
FROM j GROUP BY 1, 2
"""


@register("flagship", oracle=_FLAGSHIP_SQL)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    max_ts = wm.probe(ev, "ts")
    cutoff = max_ts - dt.timedelta(days=7)
    inc = (
        ev.filter(wm.increment_predicate("ts", cutoff, strict=True))
        .withColumn("value", F.coalesce(F.col("value"), F.lit(0.0)))
        .withColumn("source", F.lit("superset"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ded = inc.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    dim = cust.select("c_custkey", "c_mktsegment")
    j = ded.join(F.broadcast(dim), ded.user_id == dim.c_custkey, "left")
    return j.groupBy(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.max("value").alias("max_value"),
        _fxp_sum(F.col("value")).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# Reference operator surface (SURVEY §2 row numbers in names/docstrings)
# ---------------------------------------------------------------------------

@register("projection_lineage", oracle=(
    "SELECT event_id, ts, coalesce(user_id, -1) AS user_id, "
    "coalesce(event_type, 'undefined') AS event_type, "
    "coalesce(value, 0.0) AS value, coalesce(props, '{}') AS props, "
    "'superset' AS source FROM events "
    "WHERE ts > TIMESTAMP '2000-01-01'"
))
def q_projection_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 12/13/17/30: ingest projection — schema-ordered select, NULL→
    default coercion, constant lineage column (via operators.ingest.
    build_increment with the bootstrap watermark)."""
    ev = _ev(spark, sf_dir)
    return build_increment(
        ev, EVENTS, "ts", wm.BOOTSTRAP, source_tag="superset", strict=True
    )


@register("watermark_strict", oracle=(
    "SELECT event_id, ts, user_id FROM events "
    "WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)"
))
def q_watermark_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 14/18: v2 strict-> incremental predicate off a MAX probe."""
    ev = _ev(spark, sf_dir)
    cutoff = wm.probe(ev, "ts") - dt.timedelta(days=7)
    return ev.filter(wm.increment_predicate("ts", cutoff, strict=True)).select(
        "event_id", "ts", "user_id"
    )


@register("watermark_month_floor", oracle=(
    "SELECT count(*) AS n, min(ts) AS min_ts FROM events WHERE ts >= "
    "(SELECT CAST(date_trunc('month', max(ts)) AS TIMESTAMP) FROM events)"
))
def q_watermark_month_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 14/18/19/26: v1 month-floored watermark, inclusive >=."""
    ev = _ev(spark, sf_dir)
    floor = wm.probe_month_floor(ev, "ts")
    return ev.filter(wm.increment_predicate("ts", floor, strict=False)).agg(
        F.count("*").alias("n"), F.min("ts").alias("min_ts")
    )


@register("null_default_coercion", oracle=(
    "SELECT event_id, "
    "coalesce(CASE WHEN value < 20.0 THEN NULL ELSE value END, -1.0) "
    "AS value, "
    "coalesce(CASE WHEN event_type = 'view' THEN NULL ELSE event_type "
    "END, 'undefined') AS event_type FROM events"
))
def q_null_default_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row 17: NULL→DEFAULT coercion (fixtures have no NULLs, so they are
    synthesized first — the coercion itself is functions.scalar.with_defaults)."""
    ev = _ev(spark, sf_dir)
    holes = ev.select(
        "event_id",
        F.when(F.col("value") < 20.0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(F.col("event_type") == "view", F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    return with_defaults(holes, {"value": -1.0, "event_type": "undefined"})


@register("mod_shard", oracle=(
    "SELECT event_id % 2 AS shard, count(*) AS n, "
    "min(event_id) AS min_id, max(event_id) AS max_id "
    "FROM events GROUP BY 1"
))
def q_mod_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 15/29: modulo shard split (reference id%2, v1/dag.py:119,124)."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy(mod_shard("event_id", 2).alias("shard")).agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register("dedup_latest", oracle=(
    "SELECT user_id, event_id AS latest_event_id, ts AS latest_ts, "
    "event_type FROM (SELECT *, row_number() OVER (PARTITION BY "
    "user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
    "WHERE rn = 1"
))
def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 3/25: ReplacingMergeTree latest-wins — one row per key,
    winner = max (version, id). A ``max_by`` AGGREGATE, not a window:
    partial aggregation keeps one candidate row per key per map task, so
    only candidates shuffle and nothing sorts — the same rewrite that
    made exact_dedup 6× faster (r4), and skew-tolerant by construction
    (a hot key combines map-side instead of piling into one sort
    partition). Winner identical to the old row_number window: struct
    ordering is lexicographic on (ts, event_id)."""
    ev = _ev(spark, sf_dir)
    pick = F.max_by(
        F.struct(
            F.col("event_id").alias("latest_event_id"),
            F.col("ts").alias("latest_ts"),
            F.col("event_type").alias("event_type"),
        ),
        F.struct(F.col("ts"), F.col("event_id")),
    ).alias("_w")
    return (
        ev.groupBy("user_id")
        .agg(pick)
        .select(
            "user_id", "_w.latest_event_id", "_w.latest_ts", "_w.event_type"
        )
    )


@register("enrich_broadcast", oracle=(
    "SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment "
    "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"
))
def q_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 5/21: dictGet-style broadcast dimension enrichment via the
    TTL DictionaryRegistry."""
    ev = _ev(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    reg = DictionaryRegistry()
    reg.register(
        "customer",
        loader=lambda: cust.select("c_custkey", "c_name", "c_mktsegment"),
        key="c_custkey",
    )
    return reg.enrich(ev, "customer", fk="user_id").select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )


@register("month_agg", oracle=(
    "SELECT CAST(date_trunc('month', ts) AS DATE) AS month, "
    "event_type, count(*) AS n, "
    f"{_fxp_sum_sql('value')} AS sum_value, "
    "max(ts) AS last_ts FROM events GROUP BY 1, 2"
))
def q_month_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 18/26/31: monthly grouped aggregate (partition-grain rollup)."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        _fxp_sum(F.col("value")).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )


@register("retention_cutoff", oracle=(
    "WITH c AS (SELECT CAST(date_trunc('month', max(ts) - INTERVAL "
    "30 MONTH) AS TIMESTAMP) AS cutoff FROM events) "
    "SELECT c.cutoff AS cutoff, (SELECT count(e.event_id) FROM "
    "events e WHERE e.ts < c.cutoff) AS n_older FROM c"
))
def q_retention_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 16/26/27/28: the 30-month retention cutoff expression
    (anchored at max(ts) for determinism) + count of rows it would delete."""
    ev = _ev(spark, sf_dir)
    cut = ev.agg(
        months_ago(30, F.max("ts")).cast("timestamp").alias("cutoff")
    )
    return (
        cut.join(ev, ev.ts < cut.cutoff, "left")
        .groupBy("cutoff")
        .agg(F.count("event_id").alias("n_older"))
    )


@register("topk_limit", oracle=(
    "SELECT event_id, value FROM events "
    "ORDER BY value DESC, event_id LIMIT 1000"
))
def q_topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 23/24: deterministic ordered LIMIT (the reference's unordered
    `limit 1000` quirk made reproducible with a sort key)."""
    ev = _ev(spark, sf_dir)
    return (
        ev.orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(1000)
        .select("event_id", "value")
    )


@register("json_get", oracle=(
    "SELECT event_id, json_extract_string(props, '$.k') AS k_str, "
    "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k "
    "FROM events"
))
def q_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: JSON payload access on the opaque props column."""
    ev = _ev(spark, sf_dir)
    return ev.select(
        "event_id",
        json_get("props", "k").alias("k_str"),
        json_get("props", "k").cast("int").alias("k"),
    )


# ---------------------------------------------------------------------------
# Generic relational surface (SURVEY §7.2 item 6) over the TPC-H fixtures
# ---------------------------------------------------------------------------

@register("tpch_q1", oracle=(
    "SELECT l_returnflag, l_linestatus, "
    "sum(l_quantity) AS sum_qty, "
    f"{_fxp_sum_sql('l_extendedprice')} AS sum_base_price, "
    f"{_fxp_sum_sql('l_extendedprice * (1 - l_discount)')} "
    "AS sum_disc_price, "
    f"{_fxp_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} "
    "AS sum_charge, "
    "sum(l_quantity) / count(*) AS avg_qty, "
    f"{_fxp_sum_sql('l_extendedprice')} / count(*) AS avg_price, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
))
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped agg with exact-decimal money sums (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(dt.datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _fxp_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _fxp_sum(disc_price).alias("sum_disc_price"),
            _fxp_sum(charge).alias("sum_charge"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            (_fxp_sum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register("tpch_q6", oracle=(
    f"SELECT {_fxp_sum_sql('l_extendedprice * l_discount')} AS revenue, "
    "count(*) AS n_items FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "AND l_shipdate < TIMESTAMP '1998-01-01' "
    "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
))
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter + global agg (TPC-H Q6 shape).

    Every predicate is scan-pushable: the plan shows all four conjuncts
    in PushedFilters and a 3-column ReadSchema — the forecasting-revenue
    query reads none of the other 13 lineitem columns."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(dt.datetime(1997, 1, 1)))
            & (F.col("l_shipdate") < F.lit(dt.datetime(1998, 1, 1)))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _fxp_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register("tpch_q3", oracle=(
    "WITH r AS (SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS "
    "o_orderdate, "
    f"{_fxp_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP "
    "'1998-03-15' AND l.l_shipdate > TIMESTAMP '1998-03-15' "
    "GROUP BY 1, 2) SELECT o_orderkey, o_orderdate, revenue FROM r "
    "ORDER BY revenue DESC, o_orderkey LIMIT 10"
))
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + grouped agg + deterministic top-10 (TPC-H Q3 shape)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(dt.datetime(1998, 3, 15))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(dt.datetime(1998, 3, 15))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg(_fxp_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register("join_dims", oracle=(
    "SELECT r.r_name, n.n_name, count(*) AS n_customers, "
    f"{_fxp_sum_sql('c.c_acctbal')} AS "
    "total_acctbal FROM customer c "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1, 2"
))
def q_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcastable dim-chain join: customer ⋈ nation ⋈ region."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            _fxp_sum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@register("window_rank", oracle=(
    "SELECT c_nationkey, c_custkey, c_acctbal, CAST(rk AS INTEGER) "
    "AS rk FROM (SELECT c_nationkey, c_custkey, c_acctbal, "
    "row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal "
    "DESC, c_custkey) AS rk FROM customer) WHERE rk <= 3"
))
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 customers per nation by account balance."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rk")
    )


@register("window_frame", oracle=(
    (
        "SELECT user_id, event_id, "
        "round(CAST(sum(CAST(floor(value * {fxp}) AS BIGINT)) OVER f3 "
        "AS DOUBLE) / {fxp} / count(*) OVER f3, 6) AS mavg3, "
        "count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n "
        "FROM events WINDOW f3 AS (PARTITION BY user_id ORDER BY ts, "
        "event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    ).format(fxp=_FXP)
))
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with an explicit ROWS frame: 3-event moving average
    and a running count per user, ordered by event time."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f3 = w.rowsBetween(-2, 0)
    # Moving avg via the fixed-point integer sum (_FXP): windowed double
    # sums may associate differently across engines; integer sums cannot.
    qv = F.floor(F.col("value") * _FXP)
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(qv).over(f3).cast("double") / _FXP / F.count("*").over(f3), 6
        ).alias("mavg3"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "running_n"
        ),
    )


@register("rolling_fingerprint", oracle=(
    "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length(norm) + 1), "
    "i -> CAST(unicode(substr(norm, i, 1)) AS BIGINT))), "
    "(acc, c) -> (acc * 31 + c) % 2147483647) AS rfp FROM "
    "(SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', "
    "'g') AS norm FROM documents)"
))
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin polynomial rolling hash per document (pure codegen)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", txt.rolling_fingerprint(F.col("text")).alias("rfp")
    )


@register("set_ops", oracle=(
    "WITH rich AS (SELECT DISTINCT c_custkey AS custkey FROM customer "
    "WHERE c_acctbal > 5000), wo AS (SELECT DISTINCT o_custkey AS "
    "custkey FROM orders) "
    "SELECT custkey, 'except' AS tag FROM (SELECT custkey FROM rich "
    "EXCEPT SELECT custkey FROM wo) "
    "UNION ALL SELECT custkey, 'intersect' AS tag FROM (SELECT "
    "custkey FROM rich INTERSECT SELECT custkey FROM wo)"
))
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: EXCEPT + INTERSECT (distinct semantics), tagged union."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    rich = (
        cust.filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("custkey"))
        .distinct()
    )
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    ex = rich.subtract(with_orders).withColumn("tag", F.lit("except"))
    inter = rich.intersect(with_orders).withColumn("tag", F.lit("intersect"))
    return ex.unionByName(inter)


@register("anti_join", oracle=(
    "SELECT c.c_custkey, c.c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND "
    "o.o_orderdate >= TIMESTAMP '2001-01-01')"
))
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no order in the last fixture year (every
    customer has SOME order, so the unfiltered anti-join would be empty)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(dt.datetime(2001, 1, 1))
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register("rollup_agg", oracle=(
    "SELECT event_type, count(*) AS n, "
    f"{_fxp_sum_sql('value')} AS sum_value "
    "FROM events GROUP BY ROLLUP(event_type)"
))
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping (subtotal + grand total rows)."""
    ev = _ev(spark, sf_dir)
    return ev.rollup("event_type").agg(
        F.count("*").alias("n"),
        _fxp_sum(F.col("value")).alias("sum_value"),
    )


@register("cube_agg", oracle=(
    "SELECT event_type, CAST(date_trunc('month', ts) AS DATE) AS month, "
    f"count(*) AS n, {_fxp_sum_sql('value')} AS sum_value "
    "FROM events GROUP BY CUBE(event_type, CAST(date_trunc('month', ts) AS DATE))"
))
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping over (event_type, month) — all 4 grouping sets."""
    ev = _ev(spark, sf_dir).withColumn(
        "month", F.date_trunc("month", F.col("ts")).cast("date")
    )
    return ev.cube("event_type", "month").agg(
        F.count("*").alias("n"),
        _fxp_sum(F.col("value")).alias("sum_value"),
    )


@register("stats_agg", oracle=(
    "SELECT event_type, round(quantile_cont(value, 0.5), 6) AS median_value, "
    "round(stddev_samp(value), 6) AS stddev_value, "
    "count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type"
))
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per event_type: exact interpolated median,
    sample stddev, exact distinct-user count — all bit-matching their
    ANSI twins (quantile_cont / stddev_samp / count distinct)."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        F.round(F.stddev("value"), 6).alias("stddev_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register("theta_join", oracle=(
    "SELECT p.p_brand, count(*) AS n, sum(l.l_quantity) AS sum_qty "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey AND "
    "l.l_quantity > p.p_size GROUP BY 1"
))
def q_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+theta join: lineitem ⋈ part with an inequality conjunct."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(
            part,
            (li.l_partkey == part.p_partkey) & (li.l_quantity > part.p_size),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (north star; BASELINE.json)
# ---------------------------------------------------------------------------

_NORM_TEXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@register("exact_dedup", oracle=(
    "WITH u AS (SELECT * FROM documents UNION ALL SELECT doc_id + "
    "10000, text, lang, source, n_chars FROM documents), d AS ("
    "SELECT doc_id, n_chars, row_number() OVER (PARTITION BY "
    f"md5({_NORM_TEXT}) ORDER BY doc_id) AS rn FROM u) "
    "SELECT doc_id, n_chars FROM d WHERE rn = 1"
))
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: fixture has no dup texts, so duplicates are planted
    (same text, shifted ids); dedup must return exactly the originals."""
    docs = _docs(spark, sf_dir)
    planted = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(10000))
    )
    return ddp.exact_dedup(planted).select("doc_id", "n_chars")


@register(
    "fingerprint",
    oracle=f"SELECT doc_id, md5({_NORM_TEXT}) AS fp FROM documents",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (md5 of whitespace-normalized lowercase text)."""
    docs = _docs(spark, sf_dir)
    return txt.fingerprint(docs).select("doc_id", "fp")


_QUALITY_SQL = r"""
WITH raw AS (
  SELECT doc_id,
    CAST(length(text) AS INTEGER) AS q_chars,
    CASE WHEN trim(text) = '' THEN 0
         ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)
    END AS q_tokens,
    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INTEGER) AS n_punct,
    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS INTEGER) AS n_upper
  FROM documents
)
SELECT doc_id, q_chars, q_tokens,
  round(n_punct / greatest(q_chars, 1), 6) AS q_punct_ratio,
  round(q_chars / greatest(q_tokens, 1), 4) AS q_chars_per_token,
  round(n_upper / greatest(q_chars, 1), 6) AS q_upper_ratio
FROM raw
"""


@register("quality_metrics", oracle=_QUALITY_SQL)
def q_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scores — pure codegen expressions."""
    docs = _docs(spark, sf_dir)
    return txt.quality_metrics(docs).select(
        "doc_id", "q_chars", "q_tokens", "q_punct_ratio",
        "q_chars_per_token", "q_upper_ratio",
    )


def _occ_sql(expr: str, needle: str) -> str:
    """SQL twin of operators.text.occurrence_count (length-diff trick)."""
    n = len(needle)
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{needle}', ''))) "
        f"/ {n} AS INTEGER)"
    )


def _lang_sql_parts() -> tuple[list[str], str]:
    """(score select-expressions, argmax CASE) for the language-ID SQL
    twin — reusable over any relation carrying a ``text`` column."""
    pad = "(' ' || lower(text) || ' ')"
    score_exprs = []
    for lang, markers in txt.LANG_MARKERS.items():
        parts = " + ".join(_occ_sql(pad, f" {m} ") for m in markers)
        score_exprs.append(f"({parts}) AS s_{lang}")
    zh = (
        "CAST(length(regexp_replace(text, '[^"
        + txt.CJK_RANGE
        + "]', '', 'g')) AS INTEGER) AS s_zh"
    )
    score_exprs.append(zh)
    langs = list(txt.LANG_MARKERS) + ["zh"]
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'unknown' "
    for l in langs:
        case += f"WHEN s_{l} = {best} THEN '{l}' "
    case += "END"
    return score_exprs, case


def _lang_id_sql() -> str:
    score_exprs, case = _lang_sql_parts()
    return (
        "WITH s AS (SELECT doc_id, lang, "
        + ", ".join(score_exprs)
        + " FROM documents) SELECT doc_id, lang, "
        + case
        + " AS pred_lang FROM s"
    )


@register("lang_id", oracle=_lang_id_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID graded by expression equivalence (the fixture's lang
    labels are uncorrelated with the text — VERDICT r2 item 3)."""
    docs = _docs(spark, sf_dir)
    return txt.lang_id(docs).select("doc_id", "lang", "pred_lang")


_SEG_LINE_A = {
    0: "the cat and the dog is here with was",
    1: "el perro los gatos las es una",
    2: "der hund und die katze ist nicht",
}
_SEG_LINE_B = {0: "le chat les chiens des est une", 1: "中文 文本 中文 试验"}


def _seg_planted(spark_side: bool):
    """The planted 3-line mixed-language text, as a Spark Column or a
    DuckDB SQL expression — same bytes either way."""
    if spark_side:
        a = (
            F.when(F.col("doc_id") % 3 == 0, F.lit(_SEG_LINE_A[0]))
            .when(F.col("doc_id") % 3 == 1, F.lit(_SEG_LINE_A[1]))
            .otherwise(F.lit(_SEG_LINE_A[2]))
        )
        b = F.when(F.col("doc_id") % 2 == 0, F.lit(_SEG_LINE_B[0])).otherwise(
            F.lit(_SEG_LINE_B[1])
        )
        return F.concat(F.col("text"), F.lit("\n"), a, F.lit("\n"), b)
    return (
        "text || chr(10) || (CASE "
        f"WHEN doc_id % 3 = 0 THEN '{_SEG_LINE_A[0]}' "
        f"WHEN doc_id % 3 = 1 THEN '{_SEG_LINE_A[1]}' "
        f"ELSE '{_SEG_LINE_A[2]}' END) || chr(10) || (CASE "
        f"WHEN doc_id % 2 = 0 THEN '{_SEG_LINE_B[0]}' "
        f"ELSE '{_SEG_LINE_B[1]}' END)"
    )


_LINE_DEDUP_SQL = r"""
WITH planted AS (
  SELECT doc_id,
    text || chr(10) || 'subscribe to our newsletter today'
         || chr(10) || 'unique line ' || doc_id
         || chr(10) || chr(169) || ' example site all rights reserved'
    AS text
  FROM documents
), lines AS (
  SELECT doc_id, pos, line, trim(line) AS norm FROM (
    SELECT doc_id,
      generate_subscripts(string_split(text, chr(10)), 1) AS pos,
      unnest(string_split(text, chr(10))) AS line
    FROM planted)
), freq AS (
  SELECT norm, count(DISTINCT doc_id) AS df_docs FROM lines
  WHERE norm <> '' GROUP BY norm
), kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lines l
  LEFT JOIN freq f ON l.norm = f.norm
  WHERE l.norm = '' OR coalesce(f.df_docs, 0) <= 2
)
SELECT p.doc_id,
  coalesce(k.text, '') AS text
FROM planted p LEFT JOIN (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY doc_id) k USING (doc_id)
"""


@register("line_dedup", oracle=_LINE_DEDUP_SQL)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line-level boilerplate removal (the C4/CCNet line
    rule): every doc gets a planted sitewide footer (appears in ALL
    docs → must drop) and a planted unique line (must survive); the
    original text rides as line 1. Output is the reassembled text —
    order preservation, the drop rule, and the join-back all
    hash-checked by a SQL twin recomputing line frequencies and
    string_agg reassembly."""
    planted = F.concat(
        F.col("text"),
        F.lit("\nsubscribe to our newsletter today"),
        F.lit("\nunique line "),
        F.col("doc_id").cast("string"),
        F.lit("\n© example site all rights reserved"),
    )
    d = _docs(spark, sf_dir).withColumn("text", planted)
    return txt.remove_boilerplate_lines(d, max_doc_freq=2)


def _lang_segments_sql() -> str:
    score_exprs, case = _lang_sql_parts()
    return f"""
WITH lines AS (
  SELECT doc_id, unnest(string_split({_seg_planted(False)}, chr(10))) AS text
  FROM documents
), scored AS (
  SELECT doc_id, {', '.join(score_exprs)} FROM lines
), pred AS (
  SELECT doc_id, {case} AS lang FROM scored
), counts AS (
  SELECT doc_id, lang, count(*) AS c FROM pred
  WHERE lang <> 'unknown' GROUP BY 1, 2
), dom AS (
  SELECT doc_id, lang, c FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY c DESC, lang) AS rn FROM counts)
  WHERE rn = 1
), nl AS (
  SELECT doc_id, count(*) AS n_langs FROM counts GROUP BY 1
), tot AS (
  SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
  coalesce(d.lang, 'unknown') AS dominant_lang,
  round(coalesce(d.c, 0) / CAST(t.n_lines AS DOUBLE), 6) AS dominant_frac,
  CAST(coalesce(nl.n_langs, 0) AS INTEGER) AS n_langs
FROM tot t LEFT JOIN dom d USING (doc_id) LEFT JOIN nl USING (doc_id)
"""


@register("lang_segments", oracle=_lang_segments_sql())
def q_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language detection: two planted foreign lines are appended
    to every document, and the per-LINE language roll-up must surface
    the mixture (n_langs ≥ 2) plus the dominant share — the signal that
    routes crawl docs to per-language pipelines. The oracle RERUNS the
    line-level language scoring in SQL (same marker arithmetic over the
    exploded lines), so this is re-verification, not an arithmetic
    prediction."""
    d = _docs(spark, sf_dir).withColumn("text", _seg_planted(True))
    return txt.lang_segments(d)


@register("salted_agg", oracle=(
    "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_value, "
    "max(l_quantity) AS max_value FROM lineitem GROUP BY l_returnflag"
))
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation ≡ plain GROUP BY (skew mitigation).
    l_quantity is integral-valued, so double sums are order-independent
    and bit-match the oracle."""
    from from_superset_to_clickhouse_spark.operators import skew

    li = _t(spark, sf_dir, "lineitem")
    return skew.salted_agg(
        li.select("l_returnflag", "l_quantity"), ["l_returnflag"], "l_quantity"
    )


@register("salted_join", oracle=(
    "SELECT o.o_orderkey, c.c_name FROM orders o "
    "JOIN customer c ON o.o_custkey = c.c_custkey"
))
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join ≡ plain join: orders × customer on custkey with
    the big side salted and the small side replicated per bucket."""
    from from_superset_to_clickhouse_spark.operators import skew

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    return skew.salted_join(orders, cust, "o_custkey").select(
        "o_orderkey", "c_name"
    )


@register("media_features", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "CASE WHEN doc_id % 3 = 0 THEN 'image' "
    "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, "
    "CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, "
    "sha256(text) AS content_hash FROM documents"
))
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (Arrow mapInArrow): byte counts +
    content hash per synthesized media payload. The stub feature vector
    is dropped for the oracle (sha256 of the payload is engine-neutral;
    the fake embedding is not SQL)."""
    media = mm.synthesize_media(_docs(spark, sf_dir), "doc_id", "text")
    return mm.extract_features(media).select(
        "media_id", "kind", "n_bytes", "content_hash"
    )


@register("frame_sample", oracle=(
    "WITH m AS (SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "(doc_id % 60000) + 1 AS dur FROM documents WHERE doc_id % 3 = 2), "
    "f AS (SELECT media_id, CAST(unnest(range(0, dur, 5000)) AS INTEGER) "
    "AS ts_ms FROM m) "
    "SELECT media_id, CAST(ts_ms // 5000 AS INTEGER) AS frame_idx, "
    "ts_ms FROM f"
))
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling schedule: pure Catalyst posexplode(sequence)
    over synthesized video rows — one row per 5 s frame tick."""
    media = mm.synthesize_media(_docs(spark, sf_dir), "doc_id", "text")
    return mm.sample_frame_times(media, every_ms=5000)


@register("media_dims", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "CASE WHEN doc_id % 3 = 0 THEN 'png' "
    "WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'gif' END AS format, "
    "CAST(doc_id % 64 + 1 AS INTEGER) AS width, "
    "CAST(doc_id % 48 + 1 AS INTEGER) AS height FROM documents"
))
def q_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: synthesize one spec-conformant PNG/JPEG/GIF
    byte stream per document (dimensions derived from doc_id), then
    recover format/width/height by parsing the actual container bytes
    (PNG IHDR with CRC check, JPEG SOF marker walk, GIF screen
    descriptor). The oracle predicts the dims arithmetically — the
    engine must earn them from the bytes, so any codec bug
    (endianness, offset, width/height swap) hash-mismatches."""
    media = mm.synthesize_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_dims(media)


@register("media_audio", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, 'wav' AS format, "
    "CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END "
    "AS INTEGER) AS sample_rate, "
    "CAST((doc_id % 3) % 2 + 1 AS INTEGER) AS channels, "
    "CAST(doc_id % 1000 + 20 AS INTEGER) AS duration_ms "
    "FROM documents"
))
def q_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: synthesize one spec-conformant PCM WAV stream
    per document (rate/channels/duration derived from doc_id), then
    recover the metadata by walking the actual RIFF chunks (fmt + data
    chunk sizes → duration). The oracle predicts the values
    arithmetically — the engine must earn them from the bytes, so any
    chunk-walk bug (alignment, little-endian fields, block-align math)
    hash-mismatches. Closes the audio half of the multimodal stub."""
    audio = mm.synthesize_audio(_docs(spark, sf_dir), "doc_id")
    return mm.audio_meta(audio)


@register("media_video", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, 'mp4' AS format, "
    "CAST(doc_id % 320 + 16 AS INTEGER) AS width, "
    "CAST(doc_id % 240 + 16 AS INTEGER) AS height, "
    "CAST(doc_id % 9000 + 500 AS INTEGER) AS duration_ms "
    "FROM documents"
))
def q_media_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode: synthesize one spec-conformant MP4/ISO-BMFF
    header stream per document (dims/duration/timescale derived from
    doc_id), then recover the metadata by walking the actual boxes
    (ftyp check, mvhd timescale+duration, tkhd 16.16 dimensions). The
    timescale VARIES by row (1000×(id%3+1)), so a decoder that assumes
    milliseconds-as-units fails two thirds of rows — the oracle
    predicts the values arithmetically and the engine must earn them
    from the bytes. Closes the video third of the multimodal stub:
    header metadata is now real for image, audio AND video; only
    sample-level content decode remains codec-gated."""
    vids = mm.synthesize_video(_docs(spark, sf_dir), "doc_id")
    return mm.video_meta(vids)


@register("media_pixels", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format, "
    "CAST(doc_id % 16 + 1 AS INTEGER) AS width, "
    "CAST(doc_id % 12 + 1 AS INTEGER) AS height, "
    "CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) "
    "AS channels, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN 3 * (doc_id % 16 + 1) * (doc_id % 12 + 1) "
    "ELSE (doc_id % 16 + 1) * (doc_id % 12 + 1) END AS INTEGER) "
    "AS n_px, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN (doc_id % 251 + (doc_id * 7) % 251 + (doc_id * 13) % 251) "
    "* (doc_id % 16 + 1) * (doc_id % 12 + 1) "
    "ELSE (doc_id % 12 + 1) * ((doc_id % 16 + 1) * (doc_id % 16)) / 2 "
    "+ (doc_id % 16 + 1) * ((doc_id % 12 + 1) * (doc_id % 12)) / 2 "
    "END AS BIGINT) AS px_sum, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN least(doc_id % 251, (doc_id * 7) % 251, (doc_id * 13) % 251) "
    "ELSE 0 END AS INTEGER) AS min_px, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN greatest(doc_id % 251, (doc_id * 7) % 251, (doc_id * 13) % 251) "
    "ELSE (doc_id % 16) + (doc_id % 12) END AS INTEGER) AS max_px "
    "FROM documents"
))
def q_media_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode (stdlib zlib — VERDICT r6 item 4): synthesize
    one spec-conformant PNG per document whose pixel CONTENT is
    arithmetically predictable (even ids solid RGB from id arithmetic,
    odd ids the (x+y)%256 grayscale ramp), with the scanline filter
    rotating over all five PNG filter types by id%5 — then recover
    per-image n_px / px_sum / min / max by actually inflating the IDAT
    and unfiltering every row. The oracle computes the same statistics
    in closed form (solid: (r+g+b)·w·h; ramp: h·w(w-1)/2 + w·h(h-1)/2),
    so any inflate/unfilter/channel bug hash-mismatches. Integer
    columns only — the exact (n_px, px_sum) pair replaces the float
    mean for comparison (no ulp hazard)."""
    imgs = mm.synthesize_pixel_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px",
    )


@register("audio_features", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "CAST(2 * (doc_id % 4 + 1) * (doc_id % 50 + 10) AS INTEGER) "
    "AS n_frames, "
    "CAST((doc_id % 5 + 1) * 1000 AS INTEGER) AS peak, "
    "CAST((doc_id % 5 + 1) * 1000 AS DOUBLE) AS rms, "
    "CAST(0 AS DOUBLE) AS mean_sample, "
    "CAST(2 * (doc_id % 50 + 10) - 1 AS INTEGER) "
    "AS zero_crossings FROM documents"
))
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM sample decode: synthesize one mono 16-bit square-wave
    WAV per document (amplitude A = (id%5+1)·1000, half-period P =
    id%4+1, repetitions K = id%50+10), then recover n_frames / peak /
    RMS / mean / zero-crossings from the actual int16 sample bytes
    (RIFF chunk walk → ``np.frombuffer`` reinterpret). The planted
    contract makes every statistic exact — n_frames = 2PK, peak = rms
    = A, mean = 0, crossings = 2K−1 — so any decode bug (endianness,
    data offset, channel interleave) hash-mismatches. Closes the audio
    half of sample-level decode; PNG pixels closed the image half."""
    tones = mm.synthesize_tones(_docs(spark, sf_dir), "doc_id")
    return mm.audio_features(tones)


@register("mp4_sample_tables", oracle="""
-- Arithmetic twin of synthesize_mp4_tracks' planted sample tables:
-- n = id%30+5 samples, constant delta id%3+1 at timescale 600,
-- size_j = (13j+id)%900+100, keyframe every id%5+2 samples.
WITH p AS (
  SELECT doc_id, doc_id % 30 + 5 AS n, doc_id % 3 + 1 AS delta,
         doc_id % 5 + 2 AS step
  FROM documents
), s AS (
  SELECT doc_id, n, delta, step, unnest(range(0, n)) AS j FROM p
), sz AS (
  SELECT doc_id, n, delta, step,
         (13 * j + doc_id) % 900 + 100 AS sizeb FROM s
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
  CAST(max(n) AS INTEGER) AS n_samples,
  CAST((max(n) + max(step) - 1) // max(step) AS INTEGER) AS n_sync,
  CAST(sum(sizeb) AS BIGINT) AS bytes_total,
  CAST(max(sizeb) AS INTEGER) AS max_size,
  CAST((max(n) - 1) * max(delta) * 1000 // 600 AS BIGINT) AS last_dts_ms
FROM sz GROUP BY doc_id
""")
def q_mp4_sample_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 sample-table decode: one ISO-BMFF stream per document
    with stts/stsz/stss boxes (run-length sample timing, per-sample
    sizes, keyframe marks), reduced to the frame-scheduler scalars —
    sample count, keyframe count, total/max coded bytes, last DTS at
    the mdhd media timescale. The planted contract (constant delta,
    (13j+id)%900+100 sizes, every (id%5+2)-th sample sync) gives every
    scalar an arithmetic closed form, so the engine must actually
    run-length-decode the real boxes to match. Takes the video tier
    from header metadata to frame-accurate indexing."""
    vids = mm.synthesize_mp4_tracks(_docs(spark, sf_dir), "doc_id")
    return mm.video_frame_index(vids)


@register("audio_spectrum", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "CAST((doc_id % 4 + 1) * (doc_id % 50 + 10) + 1 AS INTEGER) "
    "AS n_bins, "
    "CAST(doc_id % 50 + 10 AS INTEGER) AS peak_bin, "
    "round(2.0 * ((doc_id % 5 + 1) * 1000) * (doc_id % 50 + 10) "
    "/ sin(pi() / (2 * (doc_id % 4 + 1))), 2) AS peak_mag, "
    "CAST(2 * (doc_id % 4 + 1) * (doc_id % 50 + 10) AS BIGINT) "
    "* ((doc_id % 5 + 1) * 1000) * ((doc_id % 5 + 1) * 1000) "
    "AS power FROM documents"
))
def q_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL spectral analysis on decoded PCM: an rfft magnitude
    spectrum per clip, reduced to (n_bins, dominant bin, its magnitude,
    time-domain energy). The square-wave fixture contract puts the
    fundamental exactly on bin K with the closed-form magnitude
    2AK / sin(π/2P) (odd-harmonic geometric-series identity), energy
    2PK·A², and n_bins = PK+1 — the oracle computes all of it
    arithmetically, so the engine must have run a real transform over
    really-decoded samples to match. Extends the audio stack from
    sample statistics to frequency-domain features."""
    tones = mm.synthesize_tones(_docs(spark, sf_dir), "doc_id")
    return mm.audio_spectrum(tones)


@register("gif_pixels", oracle=r"""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 9 + 1 AS h FROM documents
), xs AS (
  SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
), px AS (
  SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
), chan AS (
  SELECT doc_id, w, h, y * w + x AS p,
    (doc_id + 31 * ((x + y) % 4)) % 251 AS r,
    (3 * doc_id + 17 * ((x + y) % 4)) % 251 AS g,
    (7 * doc_id + 11 * ((x + y) % 4)) % 251 AS b
  FROM px
)
SELECT CAST(doc_id AS BIGINT) AS media_id, 'gif' AS format,
  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  CAST(count(*) * 3 AS INTEGER) AS n_px,
  CAST(sum(r + g + b) AS BIGINT) AS px_sum,
  CAST(least(min(r), min(g), min(b)) AS INTEGER) AS min_px,
  CAST(greatest(max(r), max(g), max(b)) AS INTEGER) AS max_px,
  -- byte index of pixel (x,y) channel ch is 3(yw+x)+ch, so the
  -- ROW-ORDER-sensitive checksum Σ k·byte[k] collapses to this per
  -- pixel; odd ids are interlaced on disk — a broken deinterlacer
  -- permutes rows and mismatches here while px_sum still agrees
  CAST(sum(3 * p * (r + g + b) + g + 2 * b) AS BIGINT) AS pos_sum
FROM chan GROUP BY doc_id
""")
def q_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF pixel decode through a complete stdlib LZW codec:
    synthesize one LZW-compressed GIF89a per document (4-color palette
    from id arithmetic, diagonal (x+y)%4 index pattern — repeating
    runs force genuine dictionary matches), then recover n_px / px_sum
    / min / max by actually decompressing the LZW sub-blocks and
    mapping indices through the color table; odd ids are written
    INTERLACED (Appendix E 4-pass row order) and deinterlaced on
    decode. The oracle enumerates the planted pixels arithmetically —
    including the position-weighted checksum ``pos_sum``, which is
    row-order sensitive — so any codec bug (code-width growth, KwKwK
    case, palette lookup, pass ordering) hash-mismatches. GIF joins
    PNG as the second pixel-real image format."""
    imgs = mm.synthesize_gif_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px", "pos_sum",
    )


@register("jpeg_pixels", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "'jpeg' AS format, "
    "CAST(doc_id % 15 + 1 AS INTEGER) AS width, "
    "CAST(doc_id % 11 + 1 AS INTEGER) AS height, "
    "CAST(1 AS INTEGER) AS channels, "
    "CAST((doc_id % 15 + 1) * (doc_id % 11 + 1) AS INTEGER) "
    "AS n_px, "
    "CAST(((doc_id * 37) % 125) * 2 "
    "* (doc_id % 15 + 1) * (doc_id % 11 + 1) AS BIGINT) "
    "AS px_sum, "
    "CAST(((doc_id * 37) % 125) * 2 AS INTEGER) AS min_px, "
    "CAST(((doc_id * 37) % 125) * 2 AS INTEGER) AS max_px "
    "FROM documents"
))
def q_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG pixel decode: synthesize one grayscale JPEG
    per document (full FDCT + Annex K quantization + Huffman coding),
    then recover pixel statistics by actually entropy-decoding the
    scan, dequantizing and inverse-DCTing. The planted solid-even-gray
    contract makes the lossy format exactly lossless on this content
    (DC divisible by the quant step, zero AC), so the oracle demands
    bit-exact statistics. With PNG and GIF, all three image container
    formats now decode pixels for real."""
    imgs = mm.synthesize_jpeg_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px",
    )


_JPEG_SOLID_YCC_SQL = """
-- Arithmetic twin of the planted solid-YCbCr contract shared by
-- synthesize_jpeg_color_images AND synthesize_jpeg_progressive_images:
-- solid YCbCr with even Y and 17-step-aligned chroma is exactly
-- lossless through BOTH sampling modes, restart resets and (for the
-- progressive twin) every scan of the Annex G multi-scan coding, so
-- the decoded RGB is the closed-form BT.601 reconstruction below (same
-- float64 expressions the decoder evaluates; planted values verified
-- >=0.002 from any .5 rounding boundary, so round() == np.rint here).
WITH ycc AS (
  SELECT doc_id,
    doc_id % 13 + 1 AS w, doc_id % 9 + 1 AS h,
    ((doc_id * 37) % 128) * 2 AS y,
    9 + 17 * ((doc_id * 53) % 15) AS cb,
    9 + 17 * ((doc_id * 29) % 15) AS cr
  FROM documents
), rgb AS (
  SELECT doc_id, w, h,
    CAST(LEAST(255, GREATEST(0, round(y + 1.402 * (cr - 128)))) AS INTEGER) AS r,
    CAST(LEAST(255, GREATEST(0, round(y - 0.344136 * (cb - 128)
                                        - 0.714136 * (cr - 128)))) AS INTEGER) AS g,
    CAST(LEAST(255, GREATEST(0, round(y + 1.772 * (cb - 128)))) AS INTEGER) AS b
  FROM ycc
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
  'jpeg' AS format,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  CAST(w * h * 3 AS INTEGER) AS n_px,
  CAST((r + g + b) * w * h AS BIGINT) AS px_sum,
  CAST(LEAST(r, g, b) AS INTEGER) AS min_px,
  CAST(GREATEST(r, g, b) AS INTEGER) AS max_px
FROM rgb
"""


@register("jpeg_color_pixels", oracle=_JPEG_SOLID_YCC_SQL)
def q_jpeg_color_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline COLOR JPEG pixel decode (VERDICT r7 item 2): one
    interleaved 3-component YCbCr JPEG per document — Annex K luma AND
    chroma quant/Huffman tables, sampling cycling 4:4:4/4:2:0/4:2:2/
    4:4:0 by id%4 (directional box-downsampled chroma), RSTn restart markers
    every 2 MCUs when id%3==0 — decoded back through the full
    entropy/dequant/IDCT/upsample/BT.601 pipeline. The planted solid
    YCbCr contract (even Y, chroma offsets divisible by the 17-step) is
    exactly lossless through every one of those stages, so the oracle
    replays the YCbCr->RGB reconstruction arithmetic in closed form and
    demands bit-exact statistics."""
    imgs = mm.synthesize_jpeg_color_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px",
    )


# Identical planted content contract, progressively coded on
# disk: the arithmetic twin applies verbatim — what differs is
# the entire entropy layer the engine must decode to match.
@register("jpeg_progressive_pixels", oracle=_JPEG_SOLID_YCC_SQL)
def q_jpeg_progressive_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PROGRESSIVE (SOF2) JPEG pixel decode — ITU-T T.81 Annex G,
    the dominant wild-web JPEG flavor: every fixture is a multi-scan
    stream (interleaved DC first + refine, spectral-banded AC first +
    refine with EOB runs and correction bits, per-file OPTIMAL Huffman
    tables built by the Annex K.2 flow, sampling cycling through all
    four modes by id%4, restart markers on id%3==0) decoded by
    accumulating all scans into
    coefficient buffers and running dequant/IDCT once. The planted
    solid-YCbCr contract is identical to jpeg_color_pixels, so the same
    closed-form BT.601 oracle demands bit-exact statistics — any
    progressive-path bug (EOBRUN, refinement bits, non-interleaved
    block order, DHT rebuild) mismatches."""
    imgs = mm.synthesize_jpeg_progressive_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px",
    )


@register("media_resize", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format, "
    "CAST(doc_id % 8 + 1 AS INTEGER) AS width, "
    "CAST(doc_id % 6 + 1 AS INTEGER) AS height, "
    "CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) "
    "AS channels, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN 3 * (doc_id % 8 + 1) * (doc_id % 6 + 1) "
    "ELSE (doc_id % 8 + 1) * (doc_id % 6 + 1) END AS INTEGER) AS n_px, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN (doc_id % 251 + (doc_id * 7) % 251 + (doc_id * 13) % 251) "
    "* (doc_id % 8 + 1) * (doc_id % 6 + 1) "
    "ELSE (doc_id % 8 + 1) * (doc_id % 6 + 1) "
    "* ((doc_id % 8 + 1) + (doc_id % 6 + 1) - 1) END AS BIGINT) "
    "AS px_sum, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN least(doc_id % 251, (doc_id * 7) % 251, (doc_id * 13) % 251) "
    "ELSE 1 END AS INTEGER) AS min_px, "
    "CAST(CASE WHEN doc_id % 2 = 0 "
    "THEN greatest(doc_id % 251, (doc_id * 7) % 251, (doc_id * 13) % 251) "
    "ELSE 2 * (doc_id % 8 + 1) + 2 * (doc_id % 6 + 1) - 3 "
    "END AS INTEGER) AS max_px "
    "FROM documents"
))
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end: decode PNG pixels → 2×2 box-filter
    downsample → re-encode PNG → decode AGAIN for stats. Fixture dims
    are even multiples, content is solid RGB (even ids) or the (x+y)
    ramp (odd ids — a 2×2 box mean of a linear ramp is exactly
    2X+2Y+1), so the oracle predicts the post-resize pixel statistics
    in closed form; both the downsample arithmetic AND the re-encoded
    byte stream are on the hook (stats come from re-decoding it)."""
    imgs = mm.synthesize_pixel_images(
        _docs(spark, sf_dir), "doc_id", even_dims=True
    )
    small = mm.downsample_images(imgs, factor=2)
    return mm.image_pixel_stats(small).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px",
    )


@register("triangle_count", oracle=(
    "WITH raw AS ("
    "SELECT doc_id % 400 AS s, (doc_id * 7 + 3) % 400 AS t "
    "FROM documents "
    "UNION ALL "
    "SELECT doc_id % 400, (doc_id * 13 + 5) % 400 FROM documents), "
    "e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b "
    "FROM raw WHERE least(s, t) < greatest(s, t)) "
    "SELECT CAST(count(*) AS BIGINT) AS n_triangles "
    "FROM e e1 JOIN e e2 ON e1.b = e2.a "
    "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
))
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count over a deterministic arithmetic graph
    (nodes = doc_id%400, two generated edges per doc): canonicalized
    ordered edges + two hash self-joins counting a<b<c closures — the
    standard distributed node-iterator algorithm, each triangle counted
    exactly once. Oracle = the identical relational program in DuckDB,
    so an orientation or dedup bug changes the count and mismatches."""
    d = _docs(spark, sf_dir).select((F.col("doc_id") % 400).alias("n"),
                                    F.col("doc_id"))
    edges = d.select(
        F.col("n").alias("src"),
        ((F.col("doc_id") * 7 + 3) % 400).alias("dst"),
    ).unionByName(
        d.select(
            F.col("n").alias("src"),
            ((F.col("doc_id") * 13 + 5) % 400).alias("dst"),
        )
    )
    from from_superset_to_clickhouse_spark.operators import graph as gr

    return gr.triangle_count(edges)


@register("cooccurrence", oracle=(
    "WITH gi AS (SELECT DISTINCT user_id AS g, event_type AS i "
    "FROM events) "
    "SELECT a.i AS item_a, b.i AS item_b, "
    "CAST(count(*) AS BIGINT) AS n_groups "
    "FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i GROUP BY 1, 2"
))
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every unordered pair of event
    types, the number of users who performed BOTH — one distinct
    (user, type) projection, one self-join on user, one partial-
    aggregated count. The support-threshold base step of any
    frequent-itemset miner."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    ev = _ev(spark, sf_dir)
    return gr.cooccurrence(ev, "user_id", "event_type", min_count=1)


# Batch row_number twin for BOTH ohlc entries: the streaming variant's
# min_by/max_by state merges associatively, so its drained result must
# hash-equal the same batch oracle.
_OHLC_SQL = (
    "WITH b AS (SELECT event_type, "
    "time_bucket(INTERVAL '6 hours', ts) AS bar_start, "
    "ts, event_id, value FROM events), "
    "o AS (SELECT *, row_number() OVER (PARTITION BY event_type, "
    "bar_start ORDER BY ts, event_id) AS rn_a, "
    "row_number() OVER (PARTITION BY event_type, bar_start "
    "ORDER BY ts DESC, event_id DESC) AS rn_d FROM b) "
    "SELECT event_type, bar_start, "
    "max(CASE WHEN rn_a = 1 THEN value END) AS open, "
    "max(value) AS high, min(value) AS low, "
    "max(CASE WHEN rn_d = 1 THEN value END) AS close, "
    "CAST(count(*) AS BIGINT) AS volume "
    "FROM o GROUP BY 1, 2"
)


@register("ohlc_bars", oracle=_OHLC_SQL)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling of the events fact into 6-hour bars per event
    type: open/close = value at the first/last observation ordered by
    (ts, event_id), high/low/volume as plain aggregates — all computed
    as decomposable min_by/max_by aggregates (map-side partials, ONE
    shuffle, no window sort). The oracle reproduces open/close with
    row_number CTEs over the same ordering."""
    ev = _ev(spark, sf_dir)
    return tmp.ohlc_bars(
        ev, "event_type", "ts", "value", "event_id", bar="6 hours"
    ).select(
        "event_type", "bar_start", "open", "high", "low", "close", "volume"
    )


@register("weighted_reservoir", oracle="""
-- Identical A-ES keys: md5('7:' || id) -> first 13 hex chars = 52-bit
-- integer (exact in double), u in [0,1), key = u^(1/w) rounded to 12
-- so a pow() ulp can't flip the order; top-50 by (key DESC, id).
SELECT CAST(event_id AS BIGINT) AS event_id, w,
  round(pow(
    CAST(('0x' || substr(md5('7:' || CAST(event_id AS VARCHAR)), 1, 13))
      AS BIGINT) / 4503599627370496.0,
    1.0 / w), 12) AS es_key
FROM (SELECT event_id, value + 1.0 AS w FROM events
      WHERE value IS NOT NULL)
ORDER BY es_key DESC, event_id LIMIT 50
""")
def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): key = u^(1/w) with a deterministic md5-derived
    52-bit uniform, top-50 keys = the sample — inclusion probability
    exactly proportional to weight (value+1), fixed output size, one
    pass, ordered LIMIT. The fixed-size complement of the Bernoulli
    ``weighted_sample``; the oracle replays the identical key formula
    and ordering."""
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    src = ev.select(
        "event_id", (F.col("value") + F.lit(1.0)).alias("w")
    )
    return smp.weighted_reservoir_k(src, "event_id", "w", k=50, seed=7)


@register("seeded_shuffle", oracle=(
    "SELECT event_id, md5(concat('7:', CAST(event_id AS VARCHAR))) "
    "AS _skey FROM events ORDER BY _skey LIMIT 200"
))
def q_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle for training data: every row gets an
    md5(seed:id) shuffle key (engine-portable — the oracle recomputes
    identical keys), the corpus range-partitions + sorts on it (total
    order across output files, no single-partition sort), and the entry
    returns the first 200 rows of the shuffled order via
    TakeOrderedAndProject — proving the ORDER itself, not just the key
    values, without a global sort in the plan."""
    ev = _ev(spark, sf_dir)
    shuffled = smp.seeded_shuffle(ev, "event_id", seed=7)
    return (
        shuffled.select("event_id", "_skey")
        .orderBy("_skey")
        .limit(200)
    )


@register("chi2_test", oracle=(
    "WITH base AS (SELECT event_type AS x, "
    "CAST(floor(value / 25) AS INTEGER) AS y FROM events "
    "WHERE event_type IS NOT NULL AND value IS NOT NULL), "
    "cells AS (SELECT x, y, count(*) AS o FROM base GROUP BY 1, 2), "
    "m AS (SELECT x, y, o, sum(o) OVER () AS n, "
    "sum(o) OVER (PARTITION BY x) AS rx, "
    "sum(o) OVER (PARTITION BY y) AS cy FROM cells), "
    "s AS (SELECT max(n) AS n, count(DISTINCT x) AS n_rows_x, "
    "count(DISTINCT y) AS n_cols_y, "
    "sum((o - CAST(rx AS DOUBLE) * cy / n) "
    "* (o - CAST(rx AS DOUBLE) * cy / n) "
    "/ (CAST(rx AS DOUBLE) * cy / n)) AS chi2 FROM m), "
    "d AS (SELECT *, (n_rows_x - 1) * (n_cols_y - 1) AS dof FROM s), "
    "zc AS (SELECT *, (pow(chi2 / dof, 1.0 / 3.0) "
    "- (1.0 - 2.0 / (9.0 * dof))) / sqrt(2.0 / (9.0 * dof)) AS z "
    "FROM d), "
    "et AS (SELECT *, abs(z) / sqrt(2.0) AS xx, "
    "1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t FROM zc), "
    "pv AS (SELECT *, (1.0 - (1.0 - (0.254829592 * t "
    "- 0.284496736 * t * t + 1.421413741 * t * t * t "
    "- 1.453152027 * t * t * t * t "
    "+ 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0 "
    "AS sf FROM et) "
    "SELECT CAST(n AS BIGINT) AS n, "
    "CAST(n_rows_x AS BIGINT) AS n_rows_x, "
    "CAST(n_cols_y AS BIGINT) AS n_cols_y, "
    "CAST(dof AS BIGINT) AS dof, round(chi2, 6) AS chi2, "
    "round(CASE WHEN z >= 0 THEN sf ELSE 1.0 - sf END, 6) "
    "AS p_value FROM pv"
))
def q_chi2_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event_type and the
    value quartile-bucket — cell counts partial-aggregate over the
    fact (the only data-scale pass); marginals, expecteds and the
    Wilson–Hilferty p-value run over the tiny cell table. The oracle
    replays the identical arithmetic including the same A&S erf
    polynomial, so the p-value itself is hash-checked."""
    from from_superset_to_clickhouse_spark.operators import stats as st

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.floor(F.col("value") / 25).cast("int").alias("vb"),
    )
    return st.chi2_independence(base, "event_type", "vb")


@register("mutual_info", oracle=(
    "WITH base AS (SELECT event_type AS x, user_id % 4 AS y "
    "FROM events WHERE event_type IS NOT NULL "
    "AND user_id IS NOT NULL), "
    "cells AS (SELECT x, y, count(*) AS o FROM base GROUP BY 1, 2), "
    "m AS (SELECT o, sum(o) OVER () AS n, "
    "sum(o) OVER (PARTITION BY x) AS rx, "
    "sum(o) OVER (PARTITION BY y) AS cy FROM cells) "
    "SELECT CAST(max(n) AS BIGINT) AS n, "
    "round(sum((CAST(o AS DOUBLE) / n) "
    "* ln((CAST(o AS DOUBLE) / n) "
    "/ ((CAST(rx AS DOUBLE) / n) * (CAST(cy AS DOUBLE) / n)))), 6) "
    "AS mi_nats FROM m"
))
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; user_id mod 4) in nats — the
    feature-selection primitive (does this metadata column predict
    that label?). One cell-count pass over the fact; entropy arithmetic
    over the cells. Oracle recomputes Σ p·ln(p/(px·py)) verbatim."""
    from from_superset_to_clickhouse_spark.operators import stats as st

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    base = ev.select(
        "event_type", (F.col("user_id") % 4).alias("ub")
    )
    return st.mutual_information(base, "event_type", "ub")


@register("stream_ohlc", oracle=_OHLC_SQL)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars drained to completion (AvailableNow →
    memory sink): open/close ride decomposable min_by/max_by over
    (ts, event_id), so the result is independent of batch boundaries
    and must hash-equal the BATCH row_number oracle — the strongest
    batch-stream parity claim in the streaming tier (order-sensitive
    statistics, not just commutative sums)."""
    from from_superset_to_clickhouse_spark.streaming.ingest import (
        streaming_ohlc,
    )

    stream = _stream_events(
        spark, sf_dir, ["event_id", "ts", "event_type", "value"]
    )
    name = "sg_ohlc_" + uuid.uuid4().hex[:8]
    q = (
        streaming_ohlc(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_type", "bar_start", "open", "high", "low", "close", "volume"
    )


@register("video_frames", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "CAST(ts_ms // 200 AS INTEGER) AS frame_idx, "
    "CAST(ts_ms AS INTEGER) AS ts_ms FROM ("
    "SELECT doc_id, unnest(range(0, doc_id % 9000 + 500, 200)) "
    "AS ts_ms FROM documents)"
))
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling schedule driven by REAL container metadata: MP4
    durations come from decoding actual ISO-BMFF boxes (timescale
    varies per row), then the per-video frame ticks are a pure-Catalyst
    posexplode(sequence) over the DECODED duration — the full
    seek-schedule pipeline a video curation pass runs before paying for
    frame decode. The oracle predicts ticks from the planted duration
    contract, so a decode error OR a fencepost in the schedule
    hash-mismatches."""
    vids = mm.synthesize_video(_docs(spark, sf_dir), "doc_id")
    meta = mm.video_meta(vids)
    frames = F.sequence(
        F.lit(0), F.col("duration_ms") - 1, F.lit(200)
    )
    return meta.filter(F.col("format").isNotNull()).select(
        "media_id",
        F.posexplode(frames).alias("frame_idx", "ts_ms"),
    )


def _bpe_sql() -> str:
    pat = txt.BPE_PIECE_RE.replace("'", "''")
    return (
        "SELECT doc_id, CAST(len(regexp_extract_all(text, '"
        + pat
        + "')) AS INTEGER) AS bpe_tokens FROM documents"
    )


@register("bpe_token_count", oracle=_bpe_sql())
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pretokenizer piece count per document."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", txt.bpe_token_count(F.col("text")).alias("bpe_tokens")
    )


def _sentiment_sql() -> str:
    pad = "(' ' || lower(text) || ' ')"
    pos = " + ".join(_occ_sql(pad, f" {w} ") for w in txt.POSITIVE_WORDS)
    neg = " + ".join(_occ_sql(pad, f" {w} ") for w in txt.NEGATIVE_WORDS)
    return (
        f"WITH s AS (SELECT doc_id, ({pos}) AS p, ({neg}) AS n FROM documents) "
        "SELECT doc_id, CASE WHEN p + n = 0 THEN 0.0 "
        "ELSE round((p - n) / CAST(p + n AS DOUBLE), 6) END AS sentiment FROM s"
    )


@register("sentiment", oracle=_sentiment_sql())
def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon polarity score per document."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", txt.sentiment_score(F.col("text")).alias("sentiment")
    )


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                       x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
), s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_docs,
    round(tf.tf * ln(CAST((SELECT count(DISTINCT doc_id) FROM documents)
                          AS DOUBLE) / dfreq.df_docs), 6) AS tfidf
  FROM tf JOIN dfreq USING (term)
), r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
  FROM s
)
SELECT doc_id, term, tf, df_docs, tfidf, rank FROM r WHERE rank <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_SQL)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (exact N and df, ln weighting)."""
    return txt.tfidf_top_terms(_docs(spark, sf_dir), k=3)


# brute-force twin: symmetric-delete blocking must be lossless
@register("fuzzy_pairs", oracle="""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
""")
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (record linkage): ALL customer-name pairs
    within Levenshtein distance 1, via symmetric-delete blocking — two
    strings within distance d always share a ≤d-delete variant, so the
    variant self-join is a complete candidate generator for full
    Levenshtein (insertions included) and the exact verify makes the
    result exact. The oracle is the brute-force all-pairs twin; the
    Spark plan never forms it. The fixture's zero-padded names are the
    canonical corrupted-ID case — and the degenerate case for
    segment/pigeonhole blocking (constant prefix → one giant block),
    which is exactly why the delete-variant scheme is the default."""
    return ddp.fuzzy_pairs(
        _t(spark, sf_dir, "customer"), "c_custkey", "c_name", max_dist=1
    )


# ngram_jaccard_pairs oracle: exact ALL-PAIRS Jaccard ≥ threshold. Valid
# because (a) the LSH+verify output is deterministic (md5-seeded Arrow
# banding on a fixed fixture), and (b) the fixture has no pairs in [0.25, 0.75) —
# planted near-dups sit ≥0.75 where 16-band/4-row collision probability
# is ≥1-4e-8, so candidate recall over the threshold set is exactly 1.
# A genuine LSH miss would (correctly) fail this gate.
_NGRAM_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(range(1, CAST(len(t) AS INTEGER) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      ELSE [array_to_string(t, ' ')]
    END AS s
  FROM toks
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    round(len(list_intersect(a.s, b.s)) /
          greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1),
          6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""


# the exact-join point: the oracle is the BRUTE-FORCE all-pairs
# twin — prefix filtering must reproduce it bit-for-bit
@register("prefix_jaccard_join", oracle=_NGRAM_JACCARD_SQL)
def q_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs/
    PPJoin family): 3-gram shingle sets, global rarest-first element
    order, each set indexes only its |S|-ceil(t|S|)+1 prefix, candidates
    from the prefix-element join + size bounds, exact Jaccard verify.
    Same answer as the brute-force all-pairs twin (the oracle IS the
    all-pairs SQL) — but the plan never forms n² pairs, which is the
    difference between feasible and not at corpus scale."""
    docs = _docs(spark, sf_dir)
    sets = docs.select(
        "doc_id", ddp.shingle_strings(F.col("text"), 3).alias("sh")
    )
    return ddp.set_similarity_join(sets, "doc_id", "sh", threshold=0.5)


# brute-force ordered-pair containment twin (same shingle CTEs
# as the Jaccard oracle, asymmetric denominator, a != b)
@register("containment_join", oracle=r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(range(1, CAST(len(t) AS INTEGER) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      ELSE [array_to_string(t, ' ')]
    END AS s
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_intersect(a.s, b.s)) / greatest(len(a.s), 1), 6)
    AS containment
FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
WHERE round(len(list_intersect(a.s, b.s)) / greatest(len(a.s), 1), 6) >= 0.6
""")
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT asymmetric containment self-join (excerpt/quote dedup):
    ordered pairs where ≥60% of doc a's 3-gram shingles appear in doc b
    — the case a symmetric Jaccard threshold misses (a short doc
    swallowed by a long one drowns in the union). A-prefixes under the
    rarest-first order probe b's full posting list (inverted index);
    exact intersection verifies. Oracle is the brute-force ordered-pair
    twin."""
    docs = _docs(spark, sf_dir)
    sets = docs.select(
        "doc_id", ddp.shingle_strings(F.col("text"), 3).alias("sh")
    )
    return ddp.containment_join(sets, "doc_id", "sh", threshold=0.6)


# chained CTEs of the lm_score / percentile / weighted_mix twins
@register("lm_filter_mix", oracle="""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                       x -> x <> '')) AS tok
  FROM documents
), freq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM freq
), scores AS (
  SELECT t.doc_id,
         round(avg(ln(CAST(coalesce(f.c, 0) + 1 AS DOUBLE)
                      / (tot.n + tot.v))), 6) AS lm_logprob
  FROM toks t LEFT JOIN freq f ON t.tok = f.tok, tot
  GROUP BY 1
), med AS (
  SELECT CAST(quantile_cont(lm_logprob, 0.5) AS DOUBLE) AS m FROM scores
), mixed AS (
  SELECT s.doc_id, s.lm_logprob, d.lang, d.source
  FROM scores s JOIN documents d USING (doc_id), med
  WHERE s.lm_logprob >= med.m
    AND ((s.doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 <
        CASE d.source WHEN 'src0' THEN 10000 ELSE 4000 END
)
SELECT source, lang, count(*) AS n_docs,
       CAST(round(sum(lm_logprob) * 1000000, 0) AS BIGINT) AS sum_lp_micro
FROM mixed GROUP BY 1, 2
""")
def q_lm_filter_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped curation composition END-TO-END: unigram LM scores →
    keep documents at or above the corpus median score (exact
    interpolated percentile as the deterministic threshold, fetched by
    a bounded scalar probe) → per-source weighted mix (src0 kept whole,
    every other source thinned to 40%) → per (source, lang) survivor
    counts and mean score. Each stage is an independently-oracled
    operator; this entry hash-checks their interaction."""
    docs = _docs(spark, sf_dir)
    scored = txt.unigram_lm_scores(docs).join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    )
    med = scored.agg(F.expr("percentile(lm_logprob, 0.5)")).first()[0]
    kept = scored.filter(F.col("lm_logprob") >= F.lit(med))
    mixed = smp.weighted_mix(
        kept, "doc_id", "source", {"src0": 10000}, default_bp=4000
    )
    # score sum as a scaled integer: each round-6 score × 1e6 is
    # integer-valued, so the rounded sum is exact — a group MEAN of two
    # 6-decimal scores can land on a half-way point and round apart
    # across engines (seen: 1e-6 flip on one (source, lang) group)
    return mixed.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("lm_logprob") * 1e6, 0).cast("long").alias(
            "sum_lp_micro"
        ),
    )


@register("heavy_hitters", oracle="""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '')) AS item
  FROM documents
), tot AS (SELECT count(*) AS n FROM toks)
SELECT item, count(*) AS cnt
FROM toks, tot
GROUP BY item, tot.n
HAVING count(*) > tot.n / 500.0
""")
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with frequency > n/500) via two-pass
    Misra–Gries: per-partition Arrow-batched summaries (≤k rows each —
    provably a superset of every global heavy hitter) then exact counts
    of candidates only. The shuffle is bounded by partitions×k, not the
    vocabulary — the cost the exact-groupBy oracle twin pays."""
    from from_superset_to_clickhouse_spark.operators.sketch import (
        heavy_hitters,
    )

    toks = _docs(spark, sf_dir).select(
        F.explode(txt.word_tokens(F.col("text"))).alias("tok")
    )
    return heavy_hitters(toks, "tok", k=500)


@register("group_sample_k", oracle=(
    "SELECT doc_id, lang FROM documents "
    "QUALIFY row_number() OVER (PARTITION BY lang ORDER BY "
    "((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000, "
    "doc_id) <= 50"
))
def q_group_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group deterministic sampling (eval-set assembly):
    50 documents per language by affine-hash admission order — rerun-
    and-repartition stable, groups smaller than k keep everything."""
    return smp.group_sample_k(
        _docs(spark, sf_dir), key_col="doc_id", group_col="lang", k=50
    ).select("doc_id", "lang")


# cross-table brute force + argmin; ties to lowest key
@register("fuzzy_link", oracle="""
WITH dirty AS (
  SELECT c_custkey + 1000000 AS d_id, translate(c_name, '1', '7') AS d_name
  FROM customer
)
SELECT d.d_id, c.c_custkey AS match_key,
       levenshtein(d.d_name, c.c_name) AS dist
FROM dirty d JOIN customer c ON levenshtein(d.d_name, c.c_name) <= 2
QUALIFY row_number()
  OVER (PARTITION BY d.d_id
        ORDER BY levenshtein(d.d_name, c.c_name), c.c_custkey) = 1
""")
def q_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table record linkage end-to-end: a deterministically-corrupted
    copy of the customer names (every '1'→'7') is linked back to the
    canonical table via symmetric-delete blocked fuzzy_join (lev ≤ 2; no
    |L|×|R| cross join), then resolved to the BEST match per noisy
    record (min distance, ties to lowest key) with one min_by aggregate.
    The oracle brute-forces the cross join + QUALIFY argmin."""
    cust = _t(spark, sf_dir, "customer")
    dirty = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("d_id"),
        F.translate("c_name", "1", "7").alias("d_name"),
    )
    pairs = ddp.fuzzy_join(
        dirty, cust, "d_id", "d_name", "c_custkey", "c_name", max_dist=2
    )
    best = F.min_by(
        F.struct(F.col("c_custkey"), F.col("dist")),
        F.struct(F.col("dist"), F.col("c_custkey")),
    ).alias("_b")
    return (
        pairs.groupBy("d_id")
        .agg(best)
        .select("d_id", F.col("_b.c_custkey").alias("match_key"),
                F.col("_b.dist").alias("dist"))
    )


@register("lm_score", oracle="""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                       x -> x <> '')) AS tok
  FROM documents
), freq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM freq
)
SELECT t.doc_id,
       round(avg(ln(CAST(coalesce(f.c, 0) + 1 AS DOUBLE) / (tot.n + tot.v))),
             6) AS lm_logprob
FROM toks t LEFT JOIN freq f ON t.tok = f.tok, tot
GROUP BY 1
""")
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (CCNet-style LM filtering at unigram
    order): every document scored by the add-one-smoothed mean token
    log-probability under the corpus's own unigram distribution —
    rare-token documents score low. One frequency aggregate + one
    token-keyed scoring join, all codegen."""
    return txt.unigram_lm_scores(_docs(spark, sf_dir))


_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents WHERE doc_id < 100
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(range(1, CAST(len(t) AS INTEGER) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      ELSE [array_to_string(t, ' ')]
    END AS s
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_intersect(a.s, b.s)) /
        greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1),
        6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
"""


@register("jaccard_pairs", oracle=_JACCARD_SQL)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on a deterministic candidate set (all pairs of
    the first 100 docs) — oracle-checks the shingle/Jaccard math that the
    LSH pipeline's verify stage uses."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    cand = a.join(b, F.col("id_a") < F.col("id_b"))
    return ddp.jaccard_verify(docs, cand, threshold=0.0)


# minhash_candidates oracle (md5 hash family): recomputes the EXACT
# Spark pipeline in DuckDB — shingle strings, 64 minhashes as the
# lexicographic min of md5('i:shingle') hex strings, 16 band buckets as
# md5 of the comma-joined 4-hash slice, then the banded self-join with
# shared-band counts. Every stage is deterministic and engine-agnostic.
_MINHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(range(1, CAST(len(t) AS INTEGER) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      ELSE [array_to_string(t, ' ')]
    END AS s
  FROM toks
), sig AS (
  SELECT doc_id,
    list_transform(range(64), i ->
      list_min(list_transform(s, g -> md5(i::VARCHAR || ':' || g)))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, band,
    md5(array_to_string(sig[band*4+1:band*4+4], ',')) AS bucket
  FROM sig CROSS JOIN range(16) r(band)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@register("minhash_candidates", oracle=_MINHASH_SQL)
def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banded candidates, md5 hash family: the oracle
    recomputes the exact signatures (lexicographic min over md5 hex
    strings) and band buckets in DuckDB, so the full LSH pipeline —
    shingle → signature → band → self-join → shared-band count — is
    hash-verified, not just row-counted. Production callers default to
    the faster Arrow family; both families share one band self-join."""
    return ddp.minhash_candidates(_docs(spark, sf_dir), hash_family="md5")


# Incremental two-batch run must equal one full-corpus run — the
# oracle IS the full-corpus SQL (golden property, hash-compared).
@register("minhash_incremental", oracle=_MINHASH_SQL)
def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH dedup, hash-verified end-to-end: the corpus is
    split into two batches (even/odd doc_id); batch 1 runs against an
    empty index, batch 2 against batch 1's band rows, and the UNION of
    the two pair sets is compared against the full-corpus SQL oracle —
    the golden property (incremental ≡ one full run) checked by value
    hash, not just pytest. md5 family so DuckDB can replay signatures."""
    docs = _docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    nb1 = ddp.minhash_band_rows(b1, hash_family="md5")
    nb2 = ddp.minhash_band_rows(b2, hash_family="md5")
    p1 = ddp.minhash_candidates_incremental(nb1, nb1.limit(0))
    p2 = ddp.minhash_candidates_incremental(nb2, nb1)
    return p1.unionByName(p2)


@register("ngram_jaccard_pairs", oracle=_NGRAM_JACCARD_SQL)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact Jaccard ≥ 0.5 (rows-only: LSH recall)."""
    return ddp.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


# simhash_pairs oracle (md5 hash family): per-bit majority vote where
# the vote for bit j uses the top bit of md5('j:token') (first hex digit
# in 8..f), 4 × 16-bit band buckets as md5 of the concatenated bit
# slice, banded self-join, exact Hamming verify ≤ 3.
_SIMHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), sig AS (
  SELECT doc_id,
    list_transform(range(64), j ->
      CASE WHEN list_sum(list_transform(t, tok ->
        CASE WHEN substr(md5(j::VARCHAR || ':' || tok), 1, 1) IN
          ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0
      THEN 1 ELSE 0 END) AS sig
  FROM toks
), banded AS (
  SELECT doc_id, sig, band,
    md5(array_to_string(sig[band*16+1:band*16+16], '')) AS bucket
  FROM sig CROSS JOIN range(4) r(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
    CAST(list_sum(list_transform(range(1, 65),
      i -> abs(sa[i] - sb[i]))) AS BIGINT) AS hamming
  FROM cand
) WHERE hamming <= 3
"""


@register("simhash_pairs", oracle=_SIMHASH_SQL)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming ≤ 3, md5 hash family: the
    oracle recomputes the exact per-bit majority votes, band buckets and
    Hamming distances in DuckDB. Production callers default to the
    faster Arrow family; both families share one band self-join and
    Hamming filter."""
    return ddp.simhash_pairs(_docs(spark, sf_dir), hash_family="md5")


@register("quantize_embeddings", oracle=(
    "SELECT vec_id, CAST(s AS DOUBLE) AS scale, "
    "array_to_string(list_transform(embedding, x -> "
    "CASE WHEN s > 0.0 "
    "THEN CAST(floor(x * 127.0 / s + 0.5) AS INTEGER) "
    "ELSE 0 END), ',') AS qvec FROM "
    "(SELECT vec_id, embedding, "
    "list_max(list_transform(embedding, x -> abs(x))) AS s "
    "FROM embeddings)"
))
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embeddings table —
    pure Catalyst array expressions; codes defined as floor-of-shifted
    so the oracle replays them bit-for-bit. The codes array is
    serialized to a CSV string for the oracle comparison (the driver's
    pandas canonicalizer cannot sort list-typed columns — r5 lesson);
    pytest exercises the real array<tinyint> output."""
    q = simi.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.col("qvec").cast("array<string>"), ",").alias("qvec"),
    )


def q_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch maintenance (rows-only by design — sketch
    estimates have no exact ANSI twin): per-month HLL sketches of the
    user population built INDEPENDENTLY, then union-merged into a
    global distinct estimate — the materialized-view refresh pattern
    for COUNT(DISTINCT): each new period adds one sketch row, history is
    never rescanned. (Per-DAY partials — the fixture's events span a
    single month.) The pytest bound asserts the merged estimate is
    within 5% of the exact global distinct and exactly equals the
    single-pass sketch of the same data."""
    ev = _ev(spark, sf_dir)
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    return daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias(
            "merged_distinct_users"
        ),
        F.count("*").alias("n_partials"),
    )


@register("cms_counts", oracle="""
-- Rebuild the identical Count-Min sketch: same md5-derived cells,
-- same disjoint-half split + merge, same min-over-rows estimate.
WITH src AS (
  SELECT event_id, event_type FROM events WHERE event_type IS NOT NULL
), cells AS (
  SELECT r.r AS row,
    CAST(CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
      event_type), 1, 8)) AS BIGINT) % 256 AS INTEGER) AS bucket,
    count(*) AS cnt
  FROM src CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
  GROUP BY 1, 2
), keys AS (SELECT DISTINCT event_type FROM events
            WHERE event_type IS NOT NULL),
probes AS (
  SELECT event_type, r.r AS row,
    CAST(CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
      event_type), 1, 8)) AS BIGINT) % 256 AS INTEGER) AS bucket
  FROM keys CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
)
SELECT p.event_type, min(coalesce(c.cnt, 0)) AS est
FROM probes p LEFT JOIN cells c USING (row, bucket)
GROUP BY 1
""")
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch with a FULL oracle (unlike HLL): two sketches
    built over disjoint halves of the events, cell-wise MERGED, then
    point-queried for every event_type — (row, bucket) cells derive
    from md5 (ANSI-replicable), so DuckDB rebuilds the identical
    sketch, merge and min-over-rows estimates bit-for-bit. Sketch
    state is ≤ width×depth rows regardless of input size; the probe
    broadcasts the sketch onto the key set, never rescanning data."""
    from from_superset_to_clickhouse_spark.operators import sketch as sk

    ev = _ev(spark, sf_dir).select("event_id", "event_type")
    s1 = sk.cms_build(ev.filter(F.col("event_id") % 2 == 0), "event_type")
    s2 = sk.cms_build(ev.filter(F.col("event_id") % 2 == 1), "event_type")
    keys = (
        ev.filter(F.col("event_type").isNotNull())
        .select("event_type")
        .distinct()
    )
    return sk.cms_query(sk.cms_merge(s1, s2), keys, "event_type").select(
        F.col("key").alias("event_type"), "est"
    )


@register("card_sketch", oracle="""
-- Rebuild the identical linear-counting sketch: same md5-derived
-- buckets, same disjoint-half build + union-distinct merge (a no-op
-- relative to one distinct pass — which is the point: idempotent
-- merge), same m*ln(m/z) float64 estimate, rounded to 6dp on both
-- engines.
WITH src AS (
  SELECT DISTINCT CAST(CAST(('0x' || substr(md5('lc:' ||
    CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS INTEGER)
    AS bucket
  FROM events WHERE user_id IS NOT NULL
)
SELECT CAST(count(*) AS INTEGER) AS n_used,
  round(1024.0 * ln(1024.0 / (1024.0 - count(*))), 6) AS est
FROM src
""")
def q_card_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting cardinality sketch with a FULL oracle (VERDICT
    r7 item 5) — the cardinality tier stops being rows-only: two
    sketches built over disjoint halves of the events are merged
    (union-distinct of occupied buckets, the rollup property) and the
    m*ln(m/z) estimate extracted. Buckets derive from md5, so DuckDB
    rebuilds the identical occupied set and the identical estimate
    bit-for-bit; approx_distinct stays as the engine-native xxhash64
    HLL twin. Sketch state <= m rows; the estimate aggregates sketch
    state, never data."""
    from from_superset_to_clickhouse_spark.operators import sketch as sk

    ev = _ev(spark, sf_dir).select("event_id", "user_id")
    s1 = sk.lc_build(ev.filter(F.col("event_id") % 2 == 0), "user_id")
    s2 = sk.lc_build(ev.filter(F.col("event_id") % 2 == 1), "user_id")
    return sk.lc_estimate(sk.lc_merge(s1, s2))


# deterministic sketch: the oracle replays the identical
# bucket/merge/extract math (same expression order, so the
# IEEE double bucketing agrees); integer sums cast ::BIGINT
@register("weighted_hh", oracle=(
    "WITH src AS (SELECT event_type AS item, "
    "CAST(value AS DOUBLE) AS w FROM events "
    "WHERE event_type IS NOT NULL AND value > 0), "
    "tot AS (SELECT sum(w) AS tw FROM src) "
    "SELECT item AS event_type, round(sum(w), 4) AS wsum "
    "FROM src CROSS JOIN tot GROUP BY item, tot.tw "
    "HAVING round(sum(w), 4) > round(tw, 4) / 5"
))
def q_weighted_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted heavy hitters (topKWeighted's exact cousin):
    event types carrying more than 1/5 of total event value, via the
    two-pass weighted Misra–Gries candidate pass + exact candidate-only
    sums. k=5 sits just under the fixtures' ~20% uniform share, so the
    positive path (3 survivors at both sf0.001 and sf0.01, margin
    ≥0.14% of W ≈ 700 — far above float noise) is exercised by the
    oracle, not only by pytest. The oracle IS the exact weighted
    groupBy HAVING twin — the full-vocabulary shuffle this operator
    deletes."""
    from from_superset_to_clickhouse_spark.operators import sketch as sk

    return sk.weighted_heavy_hitters(
        _ev(spark, sf_dir), "event_type", "value", k=5
    ).select(F.col("item").alias("event_type"), "wsum")


@register("quantile_sketch", oracle="""
WITH p AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS period,
         CAST(least(greatest(floor((value - 0.0) / 500.0 * 250), 0), 249)
              AS INT) AS bucket,
         count(*) AS cnt
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), m AS (
  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM p GROUP BY 1
), c AS (
  SELECT bucket,
         CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS total
  FROM m
), qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
SELECT q, CAST(round(0.0 + (min(bucket) + 1) * 2.0, 6) AS DOUBLE) AS est,
       CAST(max(total) AS BIGINT) AS total
FROM qs, c WHERE cum >= q * total GROUP BY q
""")
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch rollup — the deterministic counterpart
    of the HLL rollup: per-day equi-width histogram partials (≤250 rows
    per day regardless of volume) are merged and answer p50/p90/p99
    without rescanning history; estimates are within one bucket width
    (2.0 here) of the truth, and every step is exact integer math, so
    the ANSI twin reproduces it bit-for-bit."""
    from from_superset_to_clickhouse_spark.operators import sketch as sk

    ev = _ev(spark, sf_dir)
    lo, hi, buckets = 0.0, 500.0, 250
    partials = sk.hist_partials(
        ev,
        "value",
        F.date_trunc("day", F.col("ts")).cast("date"),
        lo,
        hi,
        buckets,
    )
    return sk.hist_quantiles(
        sk.hist_merge(partials), [0.5, 0.9, 0.99], lo, hi, buckets
    )


_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)


_NORM = (
    "sqrt(list_aggregate(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)


_BRUTE_SQL = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
pairs AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
    {_DOT.format(a='q.embedding', b='n.embedding')}
    / ({_NORM.format(a='q.embedding')} * {_NORM.format(a='n.embedding')}) AS sim
  FROM embeddings n JOIN q ON n.vec_id <> q.vec_id
), r AS (
  SELECT q_id, n_id, round(sim, 6) AS sim,
    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)
         AS INTEGER) AS rank
  FROM pairs
)
SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 5
"""


@register("brute_force_topk", oracle=_BRUTE_SQL)
def q_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 20 vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return simi.brute_force_topk(emb, queries_df, k=5)


_EMB_DEDUP_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({_DOT.format(a='a.embedding', b='b.embedding')}
      / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}),
      6) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.9
"""


@register("embedding_dedup", oracle=_EMB_DEDUP_SQL)
def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at dedup-grade threshold 0.9.

    Oracle is the exact all-pairs cosine; at >=0.9 SRP banding recall is
    ~1 (see operator docstring), and on this fixture both sides agree
    exactly (verified: identical pair sets, empty at sf0.01 because the
    fixture vectors are near-random). The positive-signal test is the
    planted-copy pytest in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return simi.embedding_dedup_pairs(emb, threshold=0.9)


# ---------------------------------------------------------------------------
# Temporal joins + training-sequence prep + sketch/percentile analytics
# (LLM-pipeline extension surface; no reference analog — the reference's
# only temporal logic is the watermark predicate, v2/dag.py:106-109).
# ---------------------------------------------------------------------------


@register("asof_join", oracle=(
    "WITH latest AS (SELECT o_custkey, o_orderdate, o_orderkey, "
    "o_totalprice FROM (SELECT *, row_number() OVER (PARTITION BY "
    "o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn "
    "FROM orders) WHERE rn = 1) "
    "SELECT e.event_id, e.user_id, e.ts, "
    "r.o_orderkey AS last_orderkey, "
    "r.o_totalprice AS last_totalprice "
    "FROM events e ASOF LEFT JOIN latest r "
    "ON e.user_id = r.o_custkey "
    "AND e.ts >= CAST(r.o_orderdate AS TIMESTAMP)"
))
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks up the latest order (by
    o_orderdate <= ts) of the same customer — the point-in-time feature
    attachment every leakage-safe training pipeline needs. Right side is
    pre-deduped to one order per (custkey, date) per the operator's
    determinism contract; union + one window pass, single shuffle."""
    ev = _ev(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    latest = (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    return tmp.asof_join(
        ev.withColumnRenamed("user_id", "k"),
        latest.withColumnRenamed("o_custkey", "k"),
        key="k", left_ts="ts", right_ts="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
    ).select(
        "event_id", F.col("k").alias("user_id"), "ts",
        F.col("asof_o_orderkey").alias("last_orderkey"),
        F.col("asof_o_totalprice").alias("last_totalprice"),
    )


@register("range_join", oracle=(
    "SELECT o_orderkey, o_totalprice, tier FROM orders LEFT JOIN "
    "(VALUES (0.0, 75000.0, 'low'), (75000.0, 200000.0, 'mid'), "
    "(200000.0, 1e9, 'high')) b(lo, hi, tier) "
    "ON o_totalprice >= lo AND o_totalprice < hi"
))
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: classify orders into price tiers via a
    broadcast band table — BroadcastNestedLoopJoin on lo <= v < hi,
    zero shuffle on the fact side."""
    bands = spark.createDataFrame(
        [(0.0, 75000.0, "low"), (75000.0, 200000.0, "mid"),
         (200000.0, 1e9, "high")],
        "lo double, hi double, tier string",
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return tmp.range_join_bands(orders, bands, "o_totalprice").select(
        "o_orderkey", "o_totalprice", "tier"
    )


@register("sentence_chunks", oracle=r"""
-- Replays the planted sentence structure (doc_id%5+3 words joined by
-- '. ') then the identical sentence split (RE2-safe regex,
-- punctuation consumed) and window arithmetic: 3-sentence windows,
-- stride 2, last window at the final stride position reaching new
-- material; slices clamp at n.
WITH wrds AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(doc_id % 5 + 3 AS INTEGER) AS wpw
  FROM documents
), punct AS (
  SELECT doc_id, array_to_string(
    list_transform(
      range(0, (CAST(len(w) AS INTEGER) - 1) // wpw + 1),
      g -> array_to_string(w[g * wpw + 1 : g * wpw + wpw], ' ')),
    '. ') AS text
  FROM wrds
), sents AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '[.!?]+\s+'),
                x -> x <> '') AS s
  FROM punct
), dims AS (
  SELECT doc_id, s, CAST(len(s) AS INTEGER) AS n
  FROM sents WHERE len(s) > 0
), ks AS (
  SELECT doc_id, s, n,
    unnest(range(0, greatest((n - 2) // 2, 0) + 1)) AS k
  FROM dims
)
SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
  CAST(len(s[k * 2 + 1 : k * 2 + 3]) AS INTEGER) AS n_sent_chunk,
  array_to_string(s[k * 2 + 1 : k * 2 + 3], ' ') AS chunk_text
FROM ks
""")
def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware overlapping chunking (RAG windows): sentences on
    [.!?]+whitespace, 3-sentence windows every 2 (1-sentence overlap),
    short trailing windows kept — the embedder-feeding complement of
    fixed-token ``token_chunks``. The fixture corpus has no sentence
    punctuation, so the entry first PLANTS deterministic structure —
    every doc_id%5+3 words become one period-terminated sentence (a
    pure Catalyst rewrite the oracle replays with list ops) — making
    the multi-sentence window/overlap arithmetic actually load-bearing
    (docs yield up to ~15 overlapping chunks, not 1). Split/sequence/
    slice/posexplode only; no shuffle, no UDF."""
    from from_superset_to_clickhouse_spark.functions.scalar import let_bind

    docs = _docs(spark, sf_dir)
    wpw = F.pmod(F.col("doc_id"), F.lit(5)) + 3
    punct = let_bind(
        F.split(F.col("text"), " "),
        lambda w: let_bind(F.size(w), lambda n: F.concat_ws(
            ". ",
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((n - 1) / wpw).cast("int"),
                ),
                lambda g: F.concat_ws(
                    " ", F.slice(w, g * wpw + 1, wpw)
                ),
            ),
        )),
    )
    return txt.sentence_chunks(
        docs.select("doc_id", punct.alias("text")), n_sent=3, overlap=1
    )


@register("fix_mojibake", oracle="""
-- Replays the plant (per-class accent translate) and corruption
-- (UTF-8 bytes read as Latin-1: 'á'=C3A1→'Ã¡', 'é'=C3A9→'Ã©') with
-- the finite char map — the fixture corpus is pure ASCII so the map
-- is exhaustive. Spark's side uses the generic encode/decode inverse
-- transform; agreement here proves the generic repair equals the
-- exact inverse on this controlled charset, and that clean accented
-- docs (class 2) are detected and left untouched.
WITH planted AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN replace(text, 'a', 'á')
      WHEN 1 THEN replace(text, 'e', 'é')
      WHEN 2 THEN replace(text, 'o', 'ó')
      ELSE text END AS planted
  FROM documents
), corrupt AS (
  SELECT doc_id, planted,
    CASE WHEN doc_id % 4 < 2
      THEN replace(replace(planted, 'á', 'Ã¡'), 'é', 'Ã©')
      ELSE planted END AS text
  FROM planted
), fixed AS (
  SELECT doc_id, planted, text,
    CASE WHEN doc_id % 4 < 2
      THEN replace(replace(text, 'Ã¡', 'á'), 'Ã©', 'é')
      ELSE text END AS text_fixed
  FROM corrupt
)
SELECT doc_id, text_fixed <> text AS was_mojibake,
  CAST(length(text) - length(text_fixed) AS INTEGER) AS n_fixed,
  text_fixed = planted AS restored, text_fixed
FROM fixed
""")
def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style encoding repair: detect and fix UTF-8-misdecoded-as-
    Latin-1 text ('Ã©' → 'é') with the GENERIC inverse transform —
    re-encode ISO-8859-1, re-decode UTF-8 — gated by is_valid_utf8
    detection so clean accented text is left alone. The ASCII fixture
    corpus first gets deterministic damage planted: doc_id%4==0 docs
    get 'a'→'á' then a real UTF-8→Latin-1 misdecode (via Spark's own
    encode/decode, not a lookup table), %4==1 likewise with 'e'→'é',
    %4==2 gets clean accents that must NOT be "repaired" (the negative
    detection case — blind repair would corrupt them), %4==3 stays
    ASCII. The oracle replays the controlled finite char map with
    replace() chains; the Spark side never sees the map. `restored`
    proves the repair recovered the exact pre-corruption text.
    All JVM codegen — no UDF, no shuffle; map-only at 100 TB."""
    docs = _docs(spark, sf_dir)
    cls = F.pmod(F.col("doc_id"), F.lit(4))
    planted = (
        F.when(cls == 0, F.translate("text", "a", "á"))
        .when(cls == 1, F.translate("text", "e", "é"))
        .when(cls == 2, F.translate("text", "o", "ó"))
        .otherwise(F.col("text"))
    )
    corrupt = F.when(
        cls < 2, F.decode(F.encode(F.col("planted"), "UTF-8"), "ISO-8859-1")
    ).otherwise(F.col("planted"))
    staged = docs.select(
        "doc_id", planted.alias("planted")
    ).select("doc_id", "planted", corrupt.alias("text"))
    fixed = txt.fix_mojibake(staged, "text", "text_fixed")
    return fixed.select(
        "doc_id",
        "was_mojibake",
        (F.length("text") - F.length("text_fixed")).cast("int").alias(
            "n_fixed"
        ),
        (F.col("text_fixed") == F.col("planted")).alias("restored"),
        "text_fixed",
    )


@register("token_chunks", oracle=r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), ch AS (
  SELECT doc_id, CAST(u.chunk_id AS INTEGER) AS chunk_id,
         t[u.chunk_id*64+1 : u.chunk_id*64+64] AS c
  FROM toks, unnest(range(CAST(floor(greatest(len(t)-1, 0) / 64)
                          AS BIGINT) + 1)) AS u(chunk_id)
)
SELECT doc_id, chunk_id, len(c) AS n_tokens,
       array_to_string(c, ' ') AS chunk_text
FROM ch WHERE len(c) > 0
""")
def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (64-token) training-sequence chunks per document."""
    return txt.token_chunks(_docs(spark, sf_dir), chunk_size=64)


@register("percentile_stats", oracle=(
    "SELECT event_type, count(*) AS n, "
    "round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50, "
    "round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90 "
    "FROM events GROUP BY event_type"
))
def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) of event value per
    type — the oracle-checkable twin; at 100 TB swap in
    approx_percentile (t-digest sketch, one pass, mergeable) — same
    call shape, bounded error (see q_approx_distinct for the
    sketch-tier entry)."""
    return (
        _ev(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        )
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier (rows-only by design — a HyperLogLog estimate has no
    exact ANSI twin): approx distinct users per event type alongside
    the exact count; the pytest bound asserts relative error <= 5%.
    At 100 TB the sketch is the only viable plan: one pass, fixed
    memory, mergeable across partitions (exact distinct shuffles every
    key)."""
    return (
        _ev(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )


# ---------------------------------------------------------------------------
# Composite lifecycle queries: drive the side-effecting engine machinery
# (TableStore upsert/swap/delete, CSV/pandas IO, script runner, Pipeline)
# end-to-end in a throwaway /tmp store and return the final table state so
# the DuckDB oracle can verify the SEMANTICS, not just that the code ran.
# SURVEY §2 rows named per query. Temp dirs are intentionally not removed:
# the returned DataFrame is lazy and must stay readable at collect time.
# ---------------------------------------------------------------------------

_STORE_SCHEMA = Schema(
    name="store_events",
    fields=(
        Field("event_id", "bigint", nullable=False),
        Field("ts", "timestamp", nullable=False),
        Field("event_type", "string"),
        Field("value", "double"),
    ),
    dedup_key=("event_id",),
    version_col=None,  # no version column → physical insert order wins
    # Daily grain: the sf0.01 events fixture spans one calendar month, so
    # month partitions would make the swap/delete queries degenerate
    # (single partition). Day partitions give ~30, so the swap provably
    # leaves the other days untouched and the delete provably prunes.
    partition_by=("ts_day",),
    # Sorted layout inside each partition → parquet row-group stats +
    # per-partition zone maps on the id (the ORDER BY id analog).
    sort_by=("event_id",),
)


def _store_events(spark: SparkSession, sf_dir: str) -> tuple[TableStore, DataFrame]:
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(_STORE_SCHEMA)
    ev = _ev(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    return store, ev


@register("replacing_upsert", oracle=(
    "SELECT event_id, ts, event_type, value FROM ("
    "SELECT *, row_number() OVER (PARTITION BY event_id "
    "ORDER BY batch DESC) AS rn FROM ("
    "SELECT event_id, ts, event_type, value, 1 AS batch "
    "FROM events WHERE event_id % 2 = 0 UNION ALL "
    "SELECT event_id, ts, event_type, value * 2 AS value, 2 AS batch "
    "FROM events WHERE event_id % 3 = 0)) WHERE rn = 1"
))
def q_replacing_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 3/6/25/33: ReplacingMergeTree semantics end-to-end — two
    overlapping appends into a dedup-keyed store; latest_view keeps the
    physically-last insert per key (second batch wins on the overlap)."""
    store, ev = _store_events(spark, sf_dir)
    store.append("store_events", ev.filter(F.col("event_id") % 2 == 0))
    store.append(
        "store_events",
        ev.filter(F.col("event_id") % 3 == 0).withColumn(
            "value", F.col("value") * 2
        ),
    )
    return store.latest_view("store_events").select(
        "event_id", "ts", "event_type", "value"
    )


@register("summing_store", oracle=(
    "SELECT event_type, round(sum(value), 4) AS value, "
    "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1"
))
def q_summing_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SummingMergeTree semantics end-to-end: a sum_cols-declared store
    takes two partial-row appends (even ids, then odd), compacts (the
    fold materializes on disk — sums of sums are the same sums), then
    keeps accumulating; summing_view returns one row per key with
    value/cnt folded by SUM. The oracle is the plain global aggregate —
    accumulate-then-fold must equal aggregate-once."""
    schema = Schema(
        name="sum_events",
        fields=(
            Field("event_type", "string", nullable=False),
            Field("value", "double"),
            Field("cnt", "long"),
        ),
        dedup_key=("event_type",),
        sum_cols=("value", "cnt"),
    )
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_sum_"))
    store.create(schema)
    ev = _ev(spark, sf_dir).select(
        "event_id", "event_type", "value"
    ).withColumn("cnt", F.lit(1).cast("long"))
    store.append(
        "sum_events",
        ev.filter(F.col("event_id") % 2 == 0).drop("event_id"),
    )
    store.compact("sum_events")
    store.append(
        "sum_events",
        ev.filter(F.col("event_id") % 2 == 1).drop("event_id"),
    )
    return store.summing_view("sum_events").select(
        "event_type",
        F.round("value", 4).alias("value"),
        "cnt",
    )


_CHANGEFEED_SQL = r"""
WITH old AS (
  SELECT event_id, value FROM events WHERE event_id % 2 = 0
), new AS (
  SELECT event_id,
    CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END AS value
  FROM events
  WHERE event_id % 2 = 1 OR event_id % 10 = 0
  UNION ALL
  SELECT event_id, value FROM events
  WHERE event_id % 2 = 0 AND event_id % 10 <> 0
)
SELECT coalesce(o.event_id, n.event_id) AS event_id,
  CASE WHEN o.event_id IS NULL THEN 'added'
       WHEN n.event_id IS NULL THEN 'removed'
       ELSE 'changed' END AS change_type
FROM old o FULL JOIN new n ON o.event_id = n.event_id
WHERE o.event_id IS NULL OR n.event_id IS NULL
   OR o.value IS DISTINCT FROM n.value
"""


@register("store_changefeed", oracle=_CHANGEFEED_SQL)
def q_store_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed between two STORE SNAPSHOTS: time travel composed
    with CDC — batch 1 (even ids), then batch 2 with the odd ids
    plus UPDATED values for ids divisible by 10; the feed diffs
    read_as_of(seq1) against the head via snapshot_diff. Exactly what a
    downstream consumer asks a lakehouse table: 'what changed between
    the version I read yesterday and now'. Both snapshots prune through
    `_ingest_seq` row-group stats, so the diff cost tracks the two
    snapshots, not table history. Note the store is dedup-keyed: the
    head view is latest_view (last write wins), which is what makes
    'changed' rows appear."""
    store, ev = _store_events(spark, sf_dir)
    store.append("store_events", ev.filter(F.col("event_id") % 2 == 0))
    s1 = store.current_seq("store_events")
    batch2 = ev.filter(
        (F.col("event_id") % 2 == 1) | (F.col("event_id") % 10 == 0)
    ).withColumn(
        "value",
        F.when(
            F.col("event_id") % 10 == 0, F.col("value") * 2
        ).otherwise(F.col("value")),
    )
    store.append("store_events", batch2)
    old = store.read_as_of("store_events", s1).select(
        "event_id", "value"
    )
    new = store.latest_view("store_events").select("event_id", "value")
    from from_superset_to_clickhouse_spark.operators.cdc import snapshot_diff

    return snapshot_diff(old, new, keys=["event_id"])


@register("time_travel", oracle=(
    "SELECT event_id, ts, value, 'asof' AS slice FROM events "
    "WHERE event_id % 2 = 0 UNION ALL "
    "SELECT event_id, ts, value, 'delta' AS slice FROM events "
    "WHERE event_id % 2 = 1"
))
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reads over the append log: two batches (even then odd
    event_ids) into a store; ``read_as_of`` at the first batch's seq
    must reproduce exactly that batch (parquet min/max stats on the
    constant per-batch ``_ingest_seq`` prune the NEWER files, so old
    snapshots don't pay for table growth), and ``read_since`` at the
    same seq must yield exactly the delta. The entry returns both
    halves tagged, proving as_of ∪ since ≡ read with no overlap."""
    store, ev = _store_events(spark, sf_dir)
    store.append("store_events", ev.filter(F.col("event_id") % 2 == 0))
    s1 = store.current_seq("store_events")
    store.append("store_events", ev.filter(F.col("event_id") % 2 == 1))
    snap = store.read_as_of("store_events", s1).select(
        "event_id", "ts", "value", F.lit("asof").alias("slice")
    )
    delta = store.read_since("store_events", s1).select(
        "event_id", "ts", "value", F.lit("delta").alias("slice")
    )
    return snap.unionByName(delta)


@register("partition_swap", oracle=(
    "SELECT event_id, value * 2 AS value FROM events "
    "WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) "
    "FROM events) UNION ALL "
    "SELECT event_id, value FROM events "
    "WHERE CAST(ts AS DATE) <> (SELECT min(CAST(ts AS DATE)) "
    "FROM events)"
))
def q_partition_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 2/20/36: atomic REPLACE PARTITION — load everything, then
    dynamic-partition-overwrite the earliest day with doubled values;
    the other ~29 day-partitions must be untouched by the swap."""
    store, ev = _store_events(spark, sf_dir)
    store.append("store_events", ev)
    d0 = ev.agg(F.min(F.to_date("ts"))).first()[0]
    staged = ev.filter(F.to_date("ts") == F.lit(d0)).withColumn(
        "value", F.col("value") * 2
    )
    store.overwrite_partitions("store_events", staged)
    return store.read("store_events").select("event_id", "value")


@register("retention_delete", oracle=(
    "SELECT event_id, ts FROM events WHERE ts >= "
    "(SELECT date_trunc('day', max(ts)) - INTERVAL 7 DAY FROM events)"
))
def q_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 16/26/28: retention DELETE (v2/dag.py:132-135 semantics) —
    partition-pruned delete_where of everything more than 7 days before
    the day floor of MAX(ts); survivors are the final ~8 days and the
    earlier day-partitions are dropped without rewriting the kept ones."""
    store, ev = _store_events(spark, sf_dir)
    store.append("store_events", ev)
    cutoff = ev.agg(
        F.date_trunc("day", F.max("ts")) - F.expr("INTERVAL 7 DAYS")
    ).first()[0]
    store.delete_where("store_events", F.col("ts") < F.lit(cutoff))
    return store.read("store_events").select("event_id", "ts")


@register("zone_read", oracle=(
    "SELECT event_id, ts, event_type, value FROM events "
    "WHERE event_id BETWEEN 100 AND 400"
))
def q_zone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping end-to-end: load the events fixture into a
    day-partitioned, id-sorted store (writes collect per-partition
    [min, max] of the sort key), then range-read ids 100-400 — the zone
    maps translate the id range into partition pruning (event ids are
    time-sequential, so only ~1 day survives), and the result must
    equal the plain SQL range filter."""
    store, ev = _store_events(spark, sf_dir)
    store.append("store_events", ev)
    return store.read_where("store_events", "event_id", lo=100, hi=400).select(
        "event_id", "ts", "event_type", "value"
    )


@register(
    "bloom_read",
    oracle="SELECT event_id, ts, user_id, value FROM events WHERE user_id = 7",
)
def q_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom skip-index point read end-to-end (the ClickHouse
    ``INDEX … TYPE bloom_filter`` analog): load events into a
    day-partitioned store with a bloom index declared on ``user_id`` —
    writes maintain per-partition bloom bitmaps from the increment —
    then point-read one user; the blooms translate the equality into a
    partition-value isin (days where the user never appears are pruned
    at planning time; false positives cost scan only, never rows), and
    the result must equal the plain SQL equality filter."""
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(
        Schema(
            name="store_events_bloom",
            fields=(
                Field("event_id", "bigint", nullable=False),
                Field("ts", "timestamp", nullable=False),
                Field("user_id", "bigint"),
                Field("value", "double"),
            ),
            partition_by=("ts_day",),
            sort_by=("event_id",),
        )
    )
    # Index declared before data: the append maintains the bitmaps.
    store.add_bloom_index("store_events_bloom", "user_id")
    ev = _ev(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    store.append("store_events_bloom", ev)
    return store.read_eq("store_events_bloom", "user_id", 7).select(
        "event_id", "ts", "user_id", "value"
    )


@register("schema_evolution", oracle=(
    "SELECT event_id, ts, value, "
    "CASE WHEN event_id % 2 = 0 THEN 'legacy' ELSE 'new' END AS source "
    "FROM events"
))
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMN end-to-end: half the events are ingested,
    then the table gains a ``source`` column with DEFAULT 'legacy'
    (metadata-only — zero rewrite), then the other half arrives carrying
    real values. The read reconciles mixed on-disk file schemas: pre-ALTER
    rows surface the default, post-ALTER rows their own value — matching
    the SQL twin that computes the same split arithmetically."""
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(
        Schema(
            name="store_events_evo",
            fields=(
                Field("event_id", "bigint", nullable=False),
                Field("ts", "timestamp", nullable=False),
                Field("value", "double"),
            ),
            partition_by=("ts_day",),
            sort_by=("event_id",),
        )
    )
    ev = _ev(spark, sf_dir).select("event_id", "ts", "value")
    store.append("store_events_evo", ev.filter(F.col("event_id") % 2 == 0))
    store.add_column(
        "store_events_evo", Field("source", "string", default="legacy")
    )
    store.append(
        "store_events_evo",
        ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "source", F.lit("new")
        ),
    )
    return store.read("store_events_evo").select(
        "event_id", "ts", "value", "source"
    )


@register("csv_roundtrip", oracle="SELECT * FROM customer")
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row 7: CSV bulk-ingest dialect (';' delimiter, NULL literal,
    header — hook.py:92-112) proven by write→read_csv round-trip equality
    against the parquet original."""
    cust = _t(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="sg_csv_") + "/customer_csv"
    (
        cust.write.mode("overwrite")
        .option("header", True)
        .option("sep", ";")
        .option("nullValue", "NULL")
        .csv(tmp)
    )
    return read_csv(spark, tmp, schema=cust.schema)


@register("orc_roundtrip", oracle="SELECT * FROM supplier")
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC bulk interchange proven by write→read_orc round-trip equality
    against the parquet original — type-exact (binary columnar, no
    text-dialect lossiness), covering the second columnar format a
    Hive/Trino-adjacent deployment standardizes on."""
    from from_superset_to_clickhouse_spark.sources.readers import (
        read_orc,
        write_orc,
    )

    sup = _t(spark, sf_dir, "supplier")
    tmp = tempfile.mkdtemp(prefix="sg_orc_") + "/supplier_orc"
    write_orc(sup, tmp)
    return read_orc(spark, tmp, schema=sup.schema)


@register("json_roundtrip", oracle=(
    "SELECT event_id, epoch_us(ts) AS ts_us, event_type, user_id "
    "FROM events"
))
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Lines ingest proven by write→read_json round-trip equality
    against the parquet original (explicit schema — no inference
    pre-scan). Timestamps ride as ISO strings in JSON, so the ts column
    is projected to an exact epoch-micros bigint for comparison."""
    ev = _ev(spark, sf_dir).select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type", "user_id"
    )
    tmp = tempfile.mkdtemp(prefix="sg_json_") + "/events_json"
    ev.write.mode("overwrite").json(tmp)
    return read_json(spark, tmp, schema=ev.schema)


@register("pandas_roundtrip", oracle="SELECT * FROM nation")
def q_pandas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 8/9: toPandas → createDataFrame round-trip (hook.py:61-69
    analog) over the nation dim; equality against the original."""
    nat = _t(spark, sf_dir, "nation")
    return from_pandas(spark, to_pandas(nat), schema=nat.schema)


@register("script_runner", oracle=(
    "SELECT o_orderpriority, count(*) AS n, "
    f"{_fxp_sum_sql('o_totalprice')} AS sum_price "
    "FROM orders WHERE o_totalprice > 150000 GROUP BY o_orderpriority"
))
def q_script_runner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 11/40/41/42: multi-statement templated script — render
    {{ params.* }}, split on ';', run sequentially, return the last
    statement's result (op.py:36-64 semantics)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_src")
    script = (
        "CREATE OR REPLACE TEMP VIEW big_orders AS "
        "SELECT * FROM {{ params.src }} "
        "WHERE o_totalprice > {{ params.cutoff }};\n"
        "SELECT o_orderpriority, count(*) AS n, "
        f"{_fxp_sum_sql('o_totalprice')} AS sum_price "
        "FROM big_orders GROUP BY o_orderpriority;"
    )
    return run_script(
        spark, script, params={"src": "orders_src", "cutoff": 150000}
    )


@register("pipeline_skip", oracle=(
    "SELECT l_returnflag, count(*) AS n, "
    f"{_fxp_sum_sql('l_extendedprice')} AS sum_price "
    "FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag"
))
def q_pipeline_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 39/43/44: Pipeline sequencing with a conditional skip — the
    inflate step is gated on a runtime config flag that is off (the
    AirflowSkipException analog, v2/dag.py:126-130), so the result must
    equal the plain filtered aggregate."""
    box: dict[str, DataFrame] = {}

    def load(ctx) -> None:
        box["df"] = _t(spark, sf_dir, "lineitem").filter(
            F.col("l_quantity") >= ctx["min_qty"]
        )

    def inflate(ctx) -> None:
        box["df"] = box["df"].withColumn(
            "l_extendedprice", F.col("l_extendedprice") * 10
        )

    def agg(ctx) -> None:
        box["res"] = box["df"].groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            _fxp_sum(F.col("l_extendedprice")).alias("sum_price"),
        )

    Pipeline(
        "skip_demo",
        [
            Step("load", load),
            Step("inflate", inflate, when=lambda c: c.get("inflate", False)),
            Step("agg", agg),
        ],
        config={"min_qty": 25},
    ).run()
    return box["res"]


# ---------------------------------------------------------------------------
# Streaming tier (SURVEY §2.9 / §7.2 item 12), executed as real streams:
# parquet file-stream source → Trigger.AvailableNow → memory/foreachBatch
# sink, then the materialized result is returned for the oracle compare.
# The batch-equivalence oracle is exactly the property AvailableNow
# guarantees (process-everything-then-stop), so a green row proves the
# streaming plan computes the same answer as the ANSI batch query.
# ---------------------------------------------------------------------------


def _stream_events(spark: SparkSession, sf_dir: str, cols: list[str]):
    """Write normalized events to a temp dir and open a file-stream on it
    (the raw fixture's NANOS timestamps can't be streamed directly)."""
    src = tempfile.mkdtemp(prefix="sg_stream_") + "/src"
    batch = _ev(spark, sf_dir).select(*cols)
    batch.write.parquet(src)
    return stream_source(spark, src, batch.schema)


@register("stream_window", oracle=(
    "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, "
    "event_type, count(*) AS n, "
    f"CAST(sum(CAST(floor(value * {_FXP}) AS BIGINT)) AS DOUBLE) "
    f"/ {_FXP} AS sum_value FROM events GROUP BY 1, 2"
))
def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregate (1 h × event_type) with an
    event-time watermark, run to completion with AvailableNow into a
    memory sink. Values are pre-quantized to the _FXP grid so the
    windowed sum is an exact integer on both engines."""
    stream = _stream_events(
        spark, sf_dir, ["event_id", "ts", "event_type", "value"]
    ).withColumn("value", F.floor(F.col("value") * _FXP))
    name = "sg_win_" + uuid.uuid4().hex[:8]
    q = (
        windowed_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("win.start").alias("ws"),
        "event_type",
        "n",
        (F.col("sum_value").cast("double") / _FXP).alias("sum_value"),
    )


@register("stream_stats", oracle=(
    "SELECT user_id, CAST(count(value) AS BIGINT) AS n, "
    "round(sum(value), 2) AS sum_v, "
    "round(sum(value * value), 4) AS sum_sq "
    "FROM events GROUP BY user_id"
))
def q_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second custom stateful streaming operator: per-key running
    moment state (n, Σx, Σx²) via applyInPandasWithState — decomposable
    state, so the drained result is independent of batch boundaries and
    must equal the one-shot batch aggregate (count/avg/var_samp twin).
    State is three floats per key regardless of stream length."""
    from from_superset_to_clickhouse_spark.streaming.ingest import (
        running_stats,
    )

    stream = _stream_events(spark, sf_dir, ["user_id", "ts", "value"])
    acc: dict = {}

    def sink(bdf: DataFrame, bid: int) -> None:
        for r in bdf.collect():  # one row per key per batch — bounded
            acc[r["user_id"]] = (r["n"], r["sum"], r["sum_sq"])

    ckpt = tempfile.mkdtemp(prefix="sg_ckpt_")
    q = (
        running_stats(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.createDataFrame(
        [(k, v[0], v[1], v[2]) for k, v in acc.items()],
        "user_id long, n long, sum double, sum_sq double",
    )
    # Compare the DECOMPOSABLE state, not mean/var: the fixture values
    # sit on a 2-decimal grid, so means are rationals that land exactly
    # on rounding midpoints where engines' tie behavior diverges —
    # while sums stay ON the grid (a sum of 2-decimal values is never a
    # midpoint of the 2-decimal grid) and round deterministically.
    return out.select(
        "user_id",
        "n",
        F.round("sum", 2).alias("sum_v"),
        F.round("sum_sq", 4).alias("sum_sq"),
    )


@register("stream_latest", oracle=(
    "SELECT user_id, ts AS latest_ts, value AS latest_value FROM ("
    "SELECT user_id, ts, value, row_number() OVER ("
    "PARTITION BY user_id ORDER BY ts DESC, value DESC) AS rn "
    "FROM events) WHERE rn = 1"
))
def q_stream_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-key
    running latest (ts, value), drained with AvailableNow via foreachBatch;
    the final state must equal the batch per-key argmax over history."""
    stream = _stream_events(spark, sf_dir, ["user_id", "ts", "value"])
    acc: dict[int, tuple] = {}

    def sink(bdf: DataFrame, bid: int) -> None:
        for r in bdf.collect():  # one row per key per batch — bounded
            acc[r["user_id"]] = (r["latest_ts"], r["latest_value"])

    ckpt = tempfile.mkdtemp(prefix="sg_ckpt_")
    q = (
        running_latest(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in acc.items()],
        "user_id long, latest_ts timestamp, latest_value double",
    )


@register("session_window", oracle=(
    "WITH d AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS "
    "NULL OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 "
    "ELSE 0 END AS new_s FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY "
    "user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM d) "
    "SELECT user_id, min(ts) AS session_start, "
    "max(ts) + INTERVAL 30 MINUTE AS session_end, "
    "count(*) AS n_events FROM g GROUP BY user_id, sid"
))
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via the built-in
    ``session_window`` — the oracle twin is the classic gaps-and-islands
    construction, proving the session semantics, not just the plumbing."""
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("s"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


@register("pivot", oracle=(
    "SELECT CAST(date_trunc('month', ts) AS DATE) AS month, "
    "count(*) FILTER (WHERE event_type = 'click') AS click, "
    "count(*) FILTER (WHERE event_type = 'view') AS view, "
    "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, "
    "count(*) FILTER (WHERE event_type = 'signup') AS signup, "
    "count(*) FILTER (WHERE event_type = 'error') AS error "
    "FROM events GROUP BY 1"
))
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab): monthly event counts, one column per type.
    The value list is explicit so the plan is a single pass of
    conditional aggregates — no extra distinct-values job, stable
    column order."""
    return (
        _ev(spark, sf_dir)
        .groupBy(F.date_trunc("month", F.col("ts")).cast("date").alias("month"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


@register("ntile_tiers", oracle=(
    "SELECT doc_id, n_chars, ntile(10) OVER "
    "(ORDER BY n_chars, doc_id) AS tier FROM documents"
))
def q_ntile_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing (quality tiers for curriculum/filtering):
    ntile(10) over (n_chars, doc_id) — the doc_id tiebreak makes tier
    assignment total-order deterministic."""
    w = Window.orderBy(F.col("n_chars"), F.col("doc_id"))
    return _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.ntile(10).over(w).alias("tier")
    )


@register("sample_pct", oracle=(
    "SELECT doc_id, lang FROM documents WHERE "
    "((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 "
    "< 2500"
))
def q_sample_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus downsampling (~25% by key hash): unlike
    df.sample(), membership is a pure function of the key — stable
    across runs, cluster sizes, and repartitions, and auditable by any
    engine from the documented affine-hash formula."""
    return smp.sample_pct(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id", 2500
    )


@register("weighted_mix", oracle=(
    "SELECT doc_id, source, lang FROM documents WHERE "
    "((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 < "
    "CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 7500 "
    "WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500 ELSE 1000 END"
))
def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted corpus mixing: per-source keep rates (full src0,
    3/4 src1, half src2, quarter src3, 10% of everything else) applied
    as one key-stable hash filter — the recipe step that assembles a
    training mix from heterogeneous sources. Deterministic: the oracle
    replays membership from the documented affine-hash formula."""
    return smp.weighted_mix(
        _docs(spark, sf_dir).select("doc_id", "source", "lang"),
        "doc_id",
        "source",
        {"src0": 10000, "src1": 7500, "src2": 5000, "src3": 2500},
        default_bp=1000,
    )


@register("token_budget_mix", oracle=(
    "SELECT doc_id, source, n_chars FROM ("
    "SELECT doc_id, source, n_chars, "
    "sum(n_chars) OVER (PARTITION BY source ORDER BY "
    "((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000, "
    "doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM documents) "
    "WHERE cum <= CASE source WHEN 'src0' THEN 4000 "
    "WHEN 'src1' THEN 2000 ELSE 1500 END"
))
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget fill: each source admits docs in
    affine-hash order until its char budget is reached (4000 for src0,
    2000 for src1, 1500 default) — 'mix to N tokens per source' stated
    in tokens, not rates. One hash-ordered window per source, no global
    sort; the oracle replays the same window in ANSI SQL."""
    return smp.token_budget_mix(
        _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
        "doc_id",
        "source",
        "n_chars",
        {"src0": 4000, "src1": 2000},
        default_budget=1500,
    )


@register("train_test_split", oracle=(
    "SELECT doc_id, lang, CASE WHEN "
    "((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 "
    "< 8000 THEN 'train' ELSE 'test' END AS split FROM documents"
))
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-stable deterministic 80/20 split (affine-hash basis points —
    same membership on any cluster size / partitioning, replicable in
    ANSI SQL; df.sample() is neither)."""
    return smp.train_test_split(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id", 8000
    )


@register("stratified_sample", oracle=(
    "SELECT doc_id, lang FROM documents WHERE "
    "((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 < "
    "CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 "
    "ELSE 1000 END"
))
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling: keep 50% of en, 20% of
    zh, 10% of everything else — the rebalancing step of a multilingual
    training mix, with broadcast rates and key-stable membership."""
    return smp.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        key_col="doc_id",
        stratum_col="lang",
        rates_bp={"en": 5000, "zh": 2000},
        default_bp=1000,
    )


@register("grouped_collect", oracle=(
    "SELECT event_type, array_to_string("
    "list_sort(list(DISTINCT CAST(user_id % 97 AS INTEGER))), ',') "
    "AS shards FROM events GROUP BY event_type"
))
def q_grouped_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped distinct-set collection, serialized sorted so the result
    is order-insensitive and oracle-comparable: per event type, the set
    of user-id shards (mod 97) that produced it."""
    shard = F.pmod(F.col("user_id"), F.lit(97))
    return (
        _ev(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set(shard.cast("int")))
            ).alias("shards")
        )
    )


@register("stream_sliding", oracle=(
    "SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS ws, "
    "event_type, count(*) AS n, "
    f"CAST(sum(CAST(floor(value * {_FXP}) AS BIGINT)) AS DOUBLE) "
    f"/ {_FXP} AS sum_value "
    "FROM events, (SELECT unnest([0, 1]) AS k) ks "
    "GROUP BY 1, 2"
))
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window aggregate (2 h window, 1 h slide): every
    event lands in exactly two overlapping windows. The oracle twin
    materializes the overlap by cross-joining each event with offsets
    {0,1} hours off its hour bucket — proving the sliding semantics, not
    just re-running a tumbling agg."""
    stream = _stream_events(
        spark, sf_dir, ["event_id", "ts", "event_type", "value"]
    ).withColumn("value", F.floor(F.col("value") * _FXP))
    name = "sg_slide_" + uuid.uuid4().hex[:8]
    q = (
        windowed_counts(stream, window="2 hours", slide="1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("win.start").alias("ws"),
        "event_type",
        "n",
        (F.col("sum_value").cast("double") / _FXP).alias("sum_value"),
    )


# streaming partials twin: same bucket formula, hour windows
@register("stream_quantiles", oracle="""
SELECT date_trunc('hour', ts) AS ws,
       CAST(least(greatest(floor((value - 0.0) / 500.0 * 250), 0), 249)
            AS INT) AS bucket,
       count(*) AS cnt
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
""")
def q_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming histogram-sketch partials (the stream producer of the
    mergeable quantile sketch): per event-time hour, (window-start,
    bucket, cnt) rows with bounded state — drained with AvailableNow
    and compared against the batch GROUP BY twin. Downstream,
    hist_merge/hist_quantiles answer p50/p99 over any window range
    without rescanning the stream (pytest proves merged streaming
    partials ≡ one-pass batch sketch)."""
    from from_superset_to_clickhouse_spark.streaming.ingest import (
        stream_quantile_partials,
    )

    stream = _stream_events(spark, sf_dir, ["event_id", "ts", "value"])
    name = "sg_qsk_" + uuid.uuid4().hex[:8]
    q = (
        stream_quantile_partials(
            stream, window="1 hour", lo=0.0, hi=500.0, buckets=250
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("win.start").alias("ws"), "bucket", "cnt"
    )


@register("stream_enrich", oracle=(
    "SELECT event_id, user_id, c_name, c_nationkey FROM events "
    "LEFT JOIN customer ON user_id = c_custkey"
))
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the event stream joins the
    static customer dim per micro-batch (the streaming analog of the
    dictionary lookup). Append mode, no state — the dim is broadcast
    into every batch, the stream is never shuffled."""
    stream = _stream_events(spark, sf_dir, ["event_id", "user_id", "ts"])
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey"
    )
    name = "sg_enrich_" + uuid.uuid4().hex[:8]
    q = (
        stream.join(F.broadcast(cust), "user_id", "left")
        .select("event_id", "user_id", "c_name", "c_nationkey")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register("stream_stream_join", oracle=(
    "SELECT c.event_id AS click_id, p.event_id AS purchase_id, "
    "c.user_id FROM events c JOIN events p "
    "ON c.event_type = 'click' AND p.event_type = 'purchase' "
    "AND p.user_id = c.user_id AND p.ts >= c.ts "
    "AND p.ts < c.ts + INTERVAL 1 HOUR"
))
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    purchases matched to same-user clicks within the following hour.
    Both sides carry watermarks so the join state is bounded (Spark
    evicts click state once the purchase watermark passes click_ts +
    1 h); the oracle is the equivalent batch theta-join."""
    clicks = (
        _stream_events(spark, sf_dir, ["event_id", "user_id", "ts", "event_type"])
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        _stream_events(spark, sf_dir, ["event_id", "user_id", "ts", "event_type"])
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    name = "sg_ssj_" + uuid.uuid4().hex[:8]
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register("stream_projection", oracle=(
    "SELECT event_type, round(sum(value), 4) AS value_sum, "
    "CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY 1"
))
def q_stream_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest with a LIVE materialized view: events stream
    into a projection-bearing store via foreachBatch appends — every
    micro-batch lands one bounded partial-aggregate batch in the
    projection, history never rescanned — and the post-drain projection
    read must equal the batch GROUP BY over everything ingested. This
    is the ClickHouse 'materialized view fed by an ingest stream'
    story end-to-end: streaming ingest, incremental MV maintenance,
    merge-on-read."""
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(
        Schema(
            name="stream_proj_events",
            fields=(
                Field("event_id", "bigint", nullable=False),
                Field("ts", "timestamp", nullable=False),
                Field("event_type", "string"),
                Field("value", "double"),
            ),
        )
    )
    store.add_projection(
        "stream_proj_events", "by_type", ["event_type"], ["value"]
    )
    stream = _stream_events(
        spark, sf_dir, ["event_id", "ts", "event_type", "value"]
    )
    ckpt = tempfile.mkdtemp(prefix="sg_ckpt_")
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, bid: store.append("stream_proj_events", bdf)
        )
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", "4")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store.read_projection("stream_proj_events", "by_type").select(
        "event_type",
        F.round("value", 4).alias("value_sum"),
        F.col("_rows").alias("n_rows"),
    )


@register("stream_outer_join", oracle=(
    "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
    "p.user_id FROM events p LEFT JOIN events c "
    "ON c.event_type = 'click' AND p.user_id = c.user_id "
    "AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR "
    "WHERE p.event_type = 'purchase'"
))
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase emits exactly
    once — matched within the hour, or with a NULL click AFTER the
    watermark proves no match can still arrive (the timeout-emission
    semantics that distinguish outer from inner stream joins). Two
    far-future sentinel rows push the final watermark past every real
    event so the AvailableNow drain flushes all pending outer state;
    the drained result must equal the batch LEFT JOIN twin."""
    import datetime as _dt

    cols = ["event_id", "user_id", "ts", "event_type"]
    batch = _ev(spark, sf_dir).select(*cols)
    far = batch.agg(F.max("ts")).first()[0] + _dt.timedelta(hours=10)
    sentinels = spark.createDataFrame(
        [(-1, -1, far, "click"), (-2, -1, far, "purchase")], batch.schema
    )
    src = tempfile.mkdtemp(prefix="sg_stream_") + "/src"
    batch.unionByName(sentinels).write.parquet(src)
    stream = stream_source(spark, src, batch.schema)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    name = "sg_soj_" + uuid.uuid4().hex[:8]
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).filter(F.col("purchase_id") >= 0)


@register("stream_dedup", oracle="SELECT DISTINCT event_id FROM events")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (``dropDuplicatesWithinWatermark``) on a
    stream that replays every event TWICE: the surviving key set must be
    exactly the batch DISTINCT. Only the key is projected — which
    physical duplicate survives is arrival-order-dependent, the set of
    keys is not — so the oracle compare is deterministic while still
    proving the bounded-state streaming dedup drops every replay."""
    stream = _stream_events(spark, sf_dir, ["event_id", "ts"])
    doubled = stream.unionByName(stream)
    name = f"sdedup_{uuid.uuid4().hex[:8]}"
    q = (
        sdedup(doubled, keys=("event_id",), ts_col="ts", watermark="1 hour")
        .select("event_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("event_id")


_SCD2_SQL = """
WITH dim AS (
  SELECT c_custkey, c_acctbal, DATE '2000-01-01' AS valid_from,
         CAST(NULL AS DATE) AS valid_to
  FROM customer
), ch AS (
  SELECT c_custkey, max(c_acctbal) AS c_acctbal FROM (
    SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal FROM customer
    WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey, c_acctbal FROM customer
    WHERE c_custkey % 97 = 0
  ) GROUP BY c_custkey
)
SELECT d.c_custkey, d.c_acctbal, d.valid_from,
  CASE WHEN c.c_custkey IS NOT NULL
        AND c.c_acctbal IS DISTINCT FROM d.c_acctbal
       THEN DATE '2024-01-01' ELSE d.valid_to END AS valid_to
FROM dim d LEFT JOIN ch c ON d.c_custkey = c.c_custkey
UNION ALL
SELECT c.c_custkey, c.c_acctbal, DATE '2024-01-01' AS valid_from,
       CAST(NULL AS DATE) AS valid_to
FROM ch c LEFT JOIN dim d ON d.c_custkey = c.c_custkey
WHERE d.c_custkey IS NULL
   OR c.c_acctbal IS DISTINCT FROM d.c_acctbal
"""


@register("scd2_merge", oracle=_SCD2_SQL)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (MERGE INTO emulation): the customer dim starts
    fully open; the change batch bumps acctbal for every 3rd key (real
    change → close + new version), re-sends every 5th key unchanged
    (must be a no-op), and adds shifted-id new keys for every 97th.
    Output is the full versioned dim; the oracle recomputes the merge
    with set logic in DuckDB."""
    from from_superset_to_clickhouse_spark.operators.cdc import scd2_apply

    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_acctbal",
        F.lit(dt.date(2000, 1, 1)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    k = F.col("c_custkey")
    changes = (
        cust.filter(F.pmod(k, F.lit(3)) == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal"))
        .unionByName(
            cust.filter(F.pmod(k, F.lit(5)) == 0).select(
                "c_custkey", "c_acctbal"
            )
        )
        .unionByName(
            cust.filter(F.pmod(k, F.lit(97)) == 0).select(
                (k + 1_000_000).alias("c_custkey"), "c_acctbal"
            )
        )
    )
    # mod-15 keys appear in both the bumped and no-op batches; keep the
    # bumped row (max acctbal) so changes carry one row per key
    changes = changes.groupBy("c_custkey").agg(
        F.max("c_acctbal").alias("c_acctbal")
    )
    return scd2_apply(
        dim,
        changes,
        key_col="c_custkey",
        attr_cols=["c_acctbal"],
        effective_ts=F.lit(dt.date(2024, 1, 1)),
    )


def _profile_col_sql(c: str) -> str:
    return (
        f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
        f"count(*) - count({c}) AS n_nulls, "
        f"count(DISTINCT {c}) AS n_distinct, "
        f"CAST(min({c}) AS VARCHAR) AS min_value, "
        f"CAST(max({c}) AS VARCHAR) AS max_value FROM events"
    )


_PROFILE_SQL = " UNION ALL ".join(
    _profile_col_sql(c) for c in ("event_id", "user_id", "event_type")
)


@register("profile", oracle=_PROFILE_SQL)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of events (nulls, exact distincts, min/max
    per column) — one pass, every aggregate in a single wide Aggregate.
    Restricted to integer/string columns so the min/max string
    rendering is engine-identical (double formatting differs across
    engines by design)."""
    from from_superset_to_clickhouse_spark.operators.cdc import profile

    return profile(
        _ev(spark, sf_dir), cols=["event_id", "user_id", "event_type"]
    )


# dedup_pipeline oracle: the ngram-Jaccard pair CTEs + a recursive
# closure + the survivor rule (node == min reachable label).
_DEDUP_PIPELINE_SQL = (
    _NGRAM_JACCARD_SQL.replace("WITH toks", "WITH RECURSIVE toks").replace(
        "SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5",
        """, e AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard >= 0.5
), sym AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.node
), comp AS (
  SELECT node, min(lbl) AS component FROM reach GROUP BY node
)
SELECT node AS doc_id FROM comp WHERE node = component""",
    )
)


@register("dedup_pipeline", oracle=_DEDUP_PIPELINE_SQL)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pipeline END-TO-END: exact n-gram
    Jaccard pairs (≥0.5) → connected components (transitive closure —
    A~B~C collapses even though (A,C) was never a pair) → keep the
    minimum doc per cluster. Returns the surviving doc_ids; the oracle
    recomputes pairs, the recursive closure, and the survivor rule
    entirely in DuckDB."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
        dedup_survivors,
    )

    docs = _docs(spark, sf_dir)
    pairs = ddp.ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        nodes=docs.select(F.col("doc_id").alias("node")),
    )
    return dedup_survivors(comp).select(F.col("node").alias("doc_id"))


# brute-force chain-EXISTS per depth; tie rule matches the
# fold's (ts, type) lexicographic order
@register("window_funnel", oracle="""
WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (SELECT user_id, ts, event_type FROM events),
d1 AS (SELECT DISTINCT user_id FROM v WHERE event_type = 'view'),
d2 AS (
  SELECT DISTINCT a.user_id
  FROM v a JOIN v b ON b.user_id = a.user_id
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_type > a.event_type))
    AND b.ts <= a.ts + INTERVAL 1 DAY
),
d3 AS (
  SELECT DISTINCT a.user_id
  FROM v a
  JOIN v b ON b.user_id = a.user_id
  JOIN v c ON c.user_id = a.user_id
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND c.event_type = 'purchase'
    AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_type > a.event_type))
    AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_type > b.event_type))
    AND c.ts <= a.ts + INTERVAL 1 DAY
)
SELECT u.user_id,
  CASE WHEN u.user_id IN (SELECT user_id FROM d3) THEN 3
       WHEN u.user_id IN (SELECT user_id FROM d2) THEN 2
       WHEN u.user_id IN (SELECT user_id FROM d1) THEN 1
       ELSE 0 END AS funnel_depth
FROM u
""")
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel`` analog: per user, the deepest
    view→click→purchase chain whose events all land within 1 day of the
    chain's first event. One aggregate + a linear Catalyst fold over the
    time-sorted per-user events (no per-step self-join, no Python); the
    oracle brute-forces the chain EXISTS per depth with the identical
    (ts, type) lexicographic tie rule."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        window_funnel,
    )

    return window_funnel(
        _ev(spark, sf_dir),
        ["view", "click", "purchase"],
        window_micros=86_400 * 1_000_000,
    )


@register("sequence_match", oracle="""
-- Independent recursive-CTE matcher (NOT a fold replay): from
-- position pos (last counted match's completion ts, initially -inf),
-- find the EARLIEST purchase t3 such that a gap-feasible
-- view<click<purchase chain exists strictly inside (pos, t3] — the
-- nested correlated EXISTS quantifies over all feasible chains, so
-- this is exact; greedy earliest-completion restart is optimal for
-- the disjoint-match count by the interval-scheduling exchange
-- argument. Recursion depth = max matches per user (bounded).
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts) AS t,
    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
         WHEN 'purchase' THEN 3 ELSE 0 END AS k
  FROM events
), f AS (SELECT user_id, t, k FROM e WHERE k > 0),
m(user_id, pos, cnt) AS (
  SELECT DISTINCT user_id, CAST(-9223372036854775807 AS BIGINT), 0
  FROM f
  UNION ALL
  SELECT user_id, t3, cnt + 1 FROM (
    SELECT m.user_id, m.cnt,
      (SELECT min(p3.t) FROM f p3
        WHERE p3.user_id = m.user_id AND p3.k = 3 AND p3.t > m.pos
          AND EXISTS (SELECT 1 FROM f c
            WHERE c.user_id = m.user_id AND c.k = 2 AND c.t > m.pos
              AND c.t < p3.t AND p3.t - c.t <= 86400000000
              AND EXISTS (SELECT 1 FROM f v
                WHERE v.user_id = m.user_id AND v.k = 1 AND v.t > m.pos
                  AND v.t < c.t AND c.t - v.t <= 86400000000))) AS t3
    FROM m) s
  WHERE t3 IS NOT NULL
)
SELECT user_id, max(cnt) >= 1 AS matched,
  CAST(max(cnt) AS INTEGER) AS n_matches
FROM m GROUP BY user_id
""")
def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch``/``sequenceCount`` analog with EXACT
    semantics: per user, does view→click→purchase occur as a
    time-ordered subsequence with each step within 24 h of the previous
    matched step (the ``(?t<=N)`` condition), and the MAXIMAL number of
    disjoint such matches. One shuffle + a linear max-anchor DP fold
    with greedy earliest-completion restart (both provably exact — see
    ``operators/temporal.py:sequence_match``). The oracle is a
    genuinely different algorithm: a recursive-CTE matcher that
    repeatedly finds the earliest gap-feasible chain completion after
    the previous match via nested correlated EXISTS — agreement is
    independent evidence, not fold replay. (A DuckDB 1.0 list_reduce
    replay was tried first and hit an engine vectorization bug:
    identical folds returned different results with and without an
    outer filter — documented here so nobody reintroduces it.)"""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_match,
    )

    return sequence_match(
        _ev(spark, sf_dir),
        ["view", "click", "purchase"],
        max_gap_micros=86_400 * 1_000_000,
    )


@register("geo_neighbors", oracle="""
-- Brute-force O(n^2) twin of the grid-bucketed neighbor join: same
-- synthesized coordinates, same haversine arithmetic (round-3 then
-- compare, matching the Spark side), every a<b pair checked. The
-- production path must agree exactly — the grid only prunes.
WITH p AS (
  SELECT c_custkey AS id,
    ((c_custkey * 7919) % 12000) / 100.0 - 60.0 AS lat,
    ((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS lon
  FROM customer
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
    round(2 * 6371.0088 * asin(sqrt(least(
      sin(radians(b.lat - a.lat) / 2) ^ 2
      + cos(radians(a.lat)) * cos(radians(b.lat))
        * sin(radians(b.lon - a.lon) / 2) ^ 2, 1.0))), 3) AS dist_km
  FROM p a JOIN p b ON a.id < b.id
)
SELECT id_a, id_b, dist_km FROM pairs WHERE dist_km <= 500.0
""")
def q_geo_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact within-500 km neighbor pairs over synthesized customer
    coordinates (modular arithmetic on c_custkey — replayable in SQL)
    via the wrap-aware lat/lon grid join: bounded cell neighborhood
    equi-join prunes candidates, exact haversine decides, each pair
    found exactly once (no distinct pass). The oracle is the O(n²)
    brute-force twin — the grid path must reproduce it exactly at
    fixture scale while staying density-bounded at 100 TB."""
    from from_superset_to_clickhouse_spark.operators.geo import (
        neighbor_pairs_grid,
    )

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 7919) % 12000) / 100.0 - 60.0).alias("lat"),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias(
            "lon"
        ),
    )
    return neighbor_pairs_grid(pts, "id", "lat", "lon", 500.0, max_abs_lat=60.0)


@register("psi_drift", oracle="""
-- Replays the binned PSI: clamped fixed-width bins, per-type window
-- totals, eps-floored proportions. Bins empty on BOTH sides never
-- materialize; their contribution is (eps-eps)*ln(1) = 0, so absence
-- is equivalent.
WITH binned AS (
  SELECT event_type,
    least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9) AS b,
    count(*) FILTER (ts <  TIMESTAMP '2024-01-16') AS nr,
    count(*) FILTER (ts >= TIMESTAMP '2024-01-16') AS nc
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, nr, nc,
    CAST(sum(nr) OVER (PARTITION BY event_type) AS DOUBLE) AS tr,
    CAST(sum(nc) OVER (PARTITION BY event_type) AS DOUBLE) AS tc
  FROM binned
), p AS (
  SELECT event_type, tr, tc,
    greatest(nr / tr, 1e-6) AS pr, greatest(nc / tc, 1e-6) AS pc
  FROM tot
)
SELECT event_type, round(sum((pc - pr) * ln(pc / pr)), 6) AS psi,
  CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur
FROM p GROUP BY event_type
""")
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the first
    half of the month (reference) and the second (current): 10
    fixed-width value bins over [0, 500), eps-floored proportions,
    Σ (p_cur − p_ref)·ln(p_cur/p_ref). Stationary fixture data yields
    small-but-nonzero PSI from sampling noise — the arithmetic is
    fully exercised and hash-checked; the planted-drift sensitivity
    case lives in pytest."""
    from from_superset_to_clickhouse_spark.operators.stats import psi_drift

    ev = _ev(spark, sf_dir)
    side = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), F.lit("ref")
    ).otherwise(F.lit("cur"))
    return psi_drift(
        ev, "value", side, n_bins=10, lo=0.0, hi=500.0,
        group_cols=["event_type"],
    )


@register("ks_test", oracle="""
-- Same distinct-value ECDF construction and published p-value
-- arithmetic: D is exact integer-count ratio arithmetic; the
-- Kolmogorov series terms decay like exp(-2 j^2 lam^2) so the 100-term
-- sum is dominated by its first few terms and the 6-dp round is
-- stable across engines and summation orders.
WITH prs(pair, member, side) AS (
  VALUES ('click|purchase', 'click', 'a'),
         ('click|purchase', 'purchase', 'b'),
         ('view|error', 'view', 'a'), ('view|error', 'error', 'b'),
         ('signup|purchase', 'signup', 'a'),
         ('signup|purchase', 'purchase', 'b')
), tagged AS (
  SELECT p.pair, p.side, e.value AS v
  FROM events e JOIN prs p ON e.event_type = p.member
), by_val AS (
  SELECT pair, v,
    count(*) FILTER (side = 'a') AS ca,
    count(*) FILTER (side = 'b') AS cb
  FROM tagged GROUP BY 1, 2
), cum AS (
  SELECT pair,
    sum(ca) OVER (PARTITION BY pair ORDER BY v) AS cuma,
    sum(cb) OVER (PARTITION BY pair ORDER BY v) AS cumb,
    sum(ca) OVER (PARTITION BY pair) AS na,
    sum(cb) OVER (PARTITION BY pair) AS nb
  FROM by_val
), gaps AS (
  SELECT pair,
    max(abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)) AS d,
    CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
  FROM cum GROUP BY pair
), lamt AS (
  SELECT pair, n_a, n_b, d,
    d * (sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)) + 0.12
         + 0.11 / sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))) AS lam
  FROM gaps
), serbig AS (
  SELECT pair,
    2.0 * sum((CASE WHEN j % 2 = 1 THEN 1.0 ELSE -1.0 END)
              * exp(-2.0 * lam * lam * j * j)) AS qb
  FROM lamt, (SELECT unnest(range(1, 101)) AS j) js
  GROUP BY pair
), sersmall AS (
  SELECT pair,
    1.0 - sqrt(2.0 * pi()) / lam
        * sum(exp(-(2.0*j - 1) * (2.0*j - 1) * pi() * pi()
                  / (8.0 * lam * lam))) AS qs
  FROM lamt, (SELECT unnest(range(1, 21)) AS j) js
  WHERE lam > 1e-9
  GROUP BY pair, lam
)
SELECT g.pair, g.n_a, g.n_b, round(g.d, 6) AS ks_d,
  round(least(greatest(
    CASE WHEN l.lam <= 1e-9 THEN 1.0
         WHEN l.lam < 1.18 THEN s.qs
         ELSE b.qb END, 0.0), 1.0), 6) AS p_value
FROM gaps g
JOIN lamt l ON g.pair = l.pair
JOIN serbig b ON g.pair = b.pair
LEFT JOIN sersmall s ON g.pair = s.pair
""")
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test across three event-type
    pairs: exact D (distinct-value aggregation handles ties exactly,
    one window cumsum per pair partition — no global sort) plus the
    asymptotic p-value via the truncated Kolmogorov series with
    Stephens' small-sample λ correction. The oracle replays the same
    published arithmetic in DuckDB windows; D itself is
    integer-ratio-exact so the 6-dp round is engine-stable."""
    from from_superset_to_clickhouse_spark.operators.stats import ks_test

    return ks_test(
        _ev(spark, sf_dir),
        "value",
        "event_type",
        [("click", "purchase"), ("view", "error"), ("signup", "purchase")],
    )


@register("funnel_rates", oracle="""
WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (SELECT user_id, ts, event_type FROM events),
d1 AS (SELECT DISTINCT user_id FROM v WHERE event_type = 'view'),
d2 AS (
  SELECT DISTINCT a.user_id
  FROM v a JOIN v b ON b.user_id = a.user_id
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_type > a.event_type))
    AND b.ts <= a.ts + INTERVAL 1 DAY
),
d3 AS (
  SELECT DISTINCT a.user_id
  FROM v a
  JOIN v b ON b.user_id = a.user_id
  JOIN v c ON c.user_id = a.user_id
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND c.event_type = 'purchase'
    AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_type > a.event_type))
    AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_type > b.event_type))
    AND c.ts <= a.ts + INTERVAL 1 DAY
)
, f AS (
SELECT u.user_id,
  CASE WHEN u.user_id IN (SELECT user_id FROM d3) THEN 3
       WHEN u.user_id IN (SELECT user_id FROM d2) THEN 2
       WHEN u.user_id IN (SELECT user_id FROM d1) THEN 1
       ELSE 0 END AS funnel_depth
FROM u
), c AS (
  SELECT count(*) AS c0,
    sum(CASE WHEN funnel_depth >= 1 THEN 1 ELSE 0 END) AS c1,
    sum(CASE WHEN funnel_depth >= 2 THEN 1 ELSE 0 END) AS c2,
    sum(CASE WHEN funnel_depth >= 3 THEN 1 ELSE 0 END) AS c3
  FROM f
)
SELECT 1 AS step, CAST(c1 AS BIGINT) AS reached,
  round(c1 / CAST(greatest(c0, 1) AS DOUBLE), 6) AS conversion FROM c
UNION ALL SELECT 2, CAST(c2 AS BIGINT),
  round(c2 / CAST(greatest(c1, 1) AS DOUBLE), 6) FROM c
UNION ALL SELECT 3, CAST(c3 AS BIGINT),
  round(c3 / CAST(greatest(c2, 1) AS DOUBLE), 6) FROM c
""")
def q_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step-conversion summary on top of ``window_funnel``: per
    step, how many users reached it and the conversion FROM THE
    PREVIOUS step — the dashboard table product analytics builds from
    raw funnel depths. One extra single-row aggregate + an exploded
    3-struct array; the oracle extends the brute-force funnel CTEs
    with the same ratio arithmetic."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        window_funnel,
    )

    f = window_funnel(
        _ev(spark, sf_dir),
        ["view", "click", "purchase"],
        window_micros=86_400 * 1_000_000,
    )
    row = f.agg(
        F.count(F.lit(1)).alias("c0"),
        *[
            F.sum((F.col("funnel_depth") >= d).cast("long")).alias(f"c{d}")
            for d in (1, 2, 3)
        ],
    )
    steps = [
        F.struct(
            F.lit(d).alias("step"),
            F.col(f"c{d}").alias("reached"),
            F.round(
                F.col(f"c{d}")
                / F.greatest(F.col(f"c{d - 1}" if d > 1 else "c0"), F.lit(1)),
                6,
            ).alias("conversion"),
        )
        for d in (1, 2, 3)
    ]
    return row.select(F.explode(F.array(*steps)).alias("s")).select("s.*")


@register("retention", oracle="""
SELECT user_id,
  max(CASE WHEN event_type = 'signup' AND day(ts) <= 7 THEN 1 ELSE 0 END) = 1
    AS r1,
  max(CASE WHEN event_type = 'signup' AND day(ts) <= 7 THEN 1 ELSE 0 END) = 1
  AND max(CASE WHEN event_type = 'purchase' AND day(ts) > 7 AND day(ts) <= 14
           THEN 1 ELSE 0 END) = 1 AS r2,
  max(CASE WHEN event_type = 'signup' AND day(ts) <= 7 THEN 1 ELSE 0 END) = 1
  AND max(CASE WHEN event_type = 'purchase' AND day(ts) > 21
           THEN 1 ELSE 0 END) = 1 AS r3
FROM events GROUP BY user_id
""")
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``retention`` analog: per user — signed up in week 1
    (the cohort anchor), AND purchased in week 2, AND purchased in week
    4. One conditional-max aggregate per condition; sum(rk)/sum(r1)
    downstream is the retention curve."""
    from from_superset_to_clickhouse_spark.operators.temporal import retention

    ev = _ev(spark, sf_dir)
    day = F.dayofmonth("ts")
    return retention(
        ev,
        [
            (F.col("event_type") == "signup") & (day <= 7),
            (F.col("event_type") == "purchase") & (day > 7) & (day <= 14),
            (F.col("event_type") == "purchase") & (day > 21),
        ],
    )


@register("value_outliers", oracle="""
WITH fences AS (
  SELECT event_type,
    round(CAST(quantile_cont(value, 0.25) AS DOUBLE)
          - 1.5 * (CAST(quantile_cont(value, 0.75) AS DOUBLE)
                   - CAST(quantile_cont(value, 0.25) AS DOUBLE)), 6)
      AS lo_fence,
    round(CAST(quantile_cont(value, 0.75) AS DOUBLE)
          + 1.5 * (CAST(quantile_cont(value, 0.75) AS DOUBLE)
                   - CAST(quantile_cont(value, 0.25) AS DOUBLE)), 6)
      AS hi_fence
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value, f.lo_fence, f.hi_fence
FROM events e JOIN fences f USING (event_type)
WHERE e.value < f.lo_fence OR e.value > f.hi_fence
""")
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence anomaly gate: events whose value falls outside
    [q1 - 1.5·IQR, q3 + 1.5·IQR] of their event-type — exact
    interpolated quartiles per (small) group broadcast back onto a
    single fact scan; the fact table never shuffles. At extreme group
    cardinality swap percentile→approx_percentile (same call shape)."""
    return dq.value_outliers(
        _ev(spark, sf_dir).select("event_id", "event_type", "value"),
        "value",
        ["event_type"],
    ).select("event_id", "event_type", "value", "lo_fence", "hi_fence")


# quality_dedup oracle: same pairs + closure, but the survivor is the
# per-component argmax by (n_chars DESC, doc_id ASC) instead of min id.
_QUALITY_DEDUP_SQL = _DEDUP_PIPELINE_SQL.replace(
    "SELECT node AS doc_id FROM comp WHERE node = component",
    """SELECT c.component, d.doc_id, d.n_chars
FROM comp c JOIN documents d ON c.node = d.doc_id
QUALIFY row_number()
  OVER (PARTITION BY c.component ORDER BY d.n_chars DESC, d.doc_id) = 1""",
)


@register("quality_dedup", oracle=_QUALITY_DEDUP_SQL)
def q_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup END-TO-END: near-dup pairs → connected
    components → keep the HIGHEST-QUALITY member of each cluster
    (longest doc, ties to lowest id) — what production corpus dedup
    wants, vs the min-id rule of ``dedup_pipeline``. The argmax is a
    per-component ``max_by`` aggregate (partial-aggregated; no window
    sort); the oracle replays pairs, the recursive closure, and the
    argmax rule in DuckDB."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
        quality_survivors,
    )

    docs = _docs(spark, sf_dir)
    pairs = ddp.ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        nodes=docs.select(F.col("doc_id").alias("node")),
    )
    return quality_survivors(
        comp, docs.select("doc_id", "n_chars"), quality_col="n_chars"
    ).select("component", F.col("node").alias("doc_id"), "n_chars")


@register("repeated_ngrams", oracle=r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 5
      THEN list_distinct(list_transform(range(1, CAST(len(t) AS INTEGER) - 3),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
             || ' ' || t[i+4]))
      ELSE [] END AS gs
  FROM toks
), r AS (SELECT doc_id, unnest(gs) AS gram FROM g)
SELECT gram, count(*) AS n_docs FROM r GROUP BY 1 HAVING count(*) >= 2
""")
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-grams (substring-dedup primitive):
    grams appearing in >= 2 distinct documents, with their document
    counts."""
    return txt.repeated_ngrams(_docs(spark, sf_dir), n=5, min_docs=2)


@register("cut_spans", oracle=r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), wins AS (
  SELECT doc_id,
    unnest(range(1, CAST(len(t) AS INTEGER) - 3)) AS i,
    unnest(list_transform(range(1, CAST(len(t) AS INTEGER) - 3),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           || ' ' || t[i+4])) AS gram
  FROM toks WHERE len(t) >= 5
), reps AS (
  SELECT gram FROM (
    SELECT gram, count(*) AS n_docs
    FROM (SELECT DISTINCT doc_id, gram FROM wins)
    GROUP BY gram) WHERE n_docs >= 2
), covered AS (
  SELECT DISTINCT w.doc_id, w.i - 1 + s.s AS pos
  FROM wins w JOIN reps USING (gram)
  CROSS JOIN (SELECT unnest(range(0, 5)) AS s) s
), tok AS (
  SELECT doc_id,
    unnest(range(0, CAST(len(t) AS INTEGER))) AS pos,
    unnest(t) AS token
  FROM toks
), kept AS (
  SELECT tok.doc_id, tok.pos, tok.token
  FROM tok ANTI JOIN covered USING (doc_id, pos)
), rebuilt AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
    count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id, coalesce(rebuilt.clean_text, '') AS clean_text,
  CAST(len(toks.t) - coalesce(rebuilt.n_kept, 0) AS INTEGER) AS n_removed
FROM toks LEFT JOIN rebuilt USING (doc_id)
""")
def q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL (the other half of substring dedup, per
    "Deduplicating Training Data Makes Language Models Better"): every
    token covered by a 5-gram window shared by ≥2 documents is excised
    and the survivors re-joined in order → (doc_id, clean_text,
    n_removed). The oracle replays the whole pipeline — window
    construction, repeated-head join, n-wide coverage, anti join,
    ordered rebuild — in ANSI SQL."""
    return txt.cut_repeated_spans(_docs(spark, sf_dir), n=5, min_docs=2)


_DQ_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _dq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with three planted defect classes (NULL value, unknown
    event_type, negative user_id) so the expectation checks provably
    fire — derived from event_id, replayable in ANSI SQL."""
    ev = _ev(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    return (
        ev.withColumn(
            "value",
            F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
                F.col("value")
            ),
        )
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 89 == 0, F.lit("BOGUS")).otherwise(
                F.col("event_type")
            ),
        )
        .withColumn(
            "user_id",
            F.when(
                F.col("event_id") % 83 == 0, -F.col("user_id") - 1
            ).otherwise(F.col("user_id")),
        )
    )


def _dq_checks():
    return [
        dq.not_null("value"),
        dq.isin("event_type", _DQ_EVENT_TYPES),
        dq.in_range("user_id", lo=0),
    ]


@register("dq_counts", oracle=(
    "WITH p AS (SELECT event_id, "
    "CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value, "
    "CASE WHEN event_id % 89 = 0 THEN 'BOGUS' ELSE event_type END "
    "AS event_type, "
    "CASE WHEN event_id % 83 = 0 THEN -user_id - 1 ELSE user_id END "
    "AS user_id FROM events), t AS (SELECT count(*) AS n FROM p) "
    "SELECT 'not_null_value' AS \"check\", "
    "(SELECT count(*) FROM p WHERE value IS NULL) AS n_violations, "
    "t.n AS n_rows FROM t UNION ALL "
    "SELECT 'isin_event_type', (SELECT count(*) FROM p WHERE NOT "
    "coalesce(event_type IN "
    "('click','view','purchase','signup','error'), false)), t.n "
    "FROM t UNION ALL "
    "SELECT 'in_range_user_id', (SELECT count(*) FROM p WHERE NOT "
    "coalesce(user_id >= 0, false)), t.n FROM t"
))
def q_dq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation validation: per-check violation counts from ONE wide
    aggregate over one scan of the planted events."""
    return dq.validate(_dq_planted(spark, sf_dir), _dq_checks())


@register("dq_violations", oracle=(
    "WITH p AS (SELECT event_id, "
    "CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value, "
    "CASE WHEN event_id % 89 = 0 THEN 'BOGUS' ELSE event_type END "
    "AS event_type, "
    "CASE WHEN event_id % 83 = 0 THEN -user_id - 1 ELSE user_id END "
    "AS user_id FROM events) "
    "SELECT event_id, array_to_string(list_filter(["
    "CASE WHEN value IS NULL THEN 'not_null_value' END, "
    "CASE WHEN NOT coalesce(event_type IN "
    "('click','view','purchase','signup','error'), false) "
    "THEN 'isin_event_type' END, "
    "CASE WHEN NOT coalesce(user_id >= 0, false) "
    "THEN 'in_range_user_id' END], x -> x IS NOT NULL), ',') "
    "AS violated_checks FROM p "
    "WHERE value IS NULL OR NOT coalesce(event_type IN "
    "('click','view','purchase','signup','error'), false) "
    "OR NOT coalesce(user_id >= 0, false)"
))
def q_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine feed: failing rows with the violated check names —
    row-local filter, no shuffle. The reasons array is serialized to a
    CSV string for the oracle comparison (the driver's pandas
    canonicalizer cannot sort list-typed columns); checks are built in
    declaration order so both engines emit the same sequence."""
    return dq.violations(_dq_planted(spark, sf_dir), _dq_checks()).select(
        "event_id",
        F.array_join(F.col("violated_checks"), ",").alias("violated_checks"),
    )


@register("bucketed_join", oracle=(
    "SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, "
    "count(*) AS n_lines, "
    f"{_fxp_sum_sql('l.l_quantity')} AS sum_qty "
    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "GROUP BY 1, 2, 3"
))
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join end-to-end: orders and lineitem written
    hash-bucketed on the order key (8 buckets, sorted within), then
    merge-joined via the catalog — the MERGE hint pins the bucket-local
    SortMergeJoin that at fixture scale the planner would replace with
    a broadcast (which ignores the layout), so THIS entry's own plan is
    the shuffle-free join the buckets exist for. The oracle is the
    plain SQL join: a physical-layout optimization must never change
    results. Catalog names are per-invocation and dropped immediately
    (the analyzed plan keeps its resolved file locations); only the
    temp files linger until harness cleanup."""
    from from_superset_to_clickhouse_spark import bucketing as bk

    base = tempfile.mkdtemp(prefix="sg_buckets_")
    tag = uuid.uuid4().hex[:8]
    t_orders, t_li = f"bq_orders_{tag}", f"bq_lineitem_{tag}"
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    bk.write_bucketed(orders, t_orders, "o_orderkey", 8, path=base + "/o")
    bk.write_bucketed(li, t_li, "o_orderkey", 8, path=base + "/l")
    try:
        j = bk.cojoin(spark, t_orders, t_li, "o_orderkey", force_merge=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")
    return j.groupBy("o_orderkey", "o_custkey", "o_totalprice").agg(
        F.count("*").alias("n_lines"),
        _fxp_sum(F.col("l_quantity")).alias("sum_qty"),
    )


@register("dq_orphans", oracle=(
    "WITH ev AS (SELECT event_type, CASE WHEN event_id % 101 = 0 "
    "THEN NULL ELSE user_id END AS user_id FROM events), "
    "dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0) "
    "SELECT event_type, count(*) AS n_orphans FROM ev e "
    "WHERE NOT EXISTS (SELECT 1 FROM dim c "
    "WHERE e.user_id = c.c_custkey) GROUP BY 1"
))
def q_dq_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity: events whose user_id has no customer row —
    broadcast anti-join, counted per event type. The fixture has full
    referential integrity, so defects are PLANTED on both sides (the
    check must fire, not no-op == no-op): every 7th customer is dropped
    from the dim (their events become orphans) and every 101st event's
    user_id is NULLed (NULL keys are orphans by anti-join semantics —
    the oracle uses NOT EXISTS, never NOT IN, for the same NULL
    behavior)."""
    ev = _ev(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("event_id") % 101 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 != 0)
    return (
        dq.orphans(ev, "user_id", cust, "c_custkey")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_orphans"))
    )


@register("user_journeys", oracle=(
    "SELECT user_id, array_to_string("
    "list(event_type ORDER BY ts, event_id, event_type), '>') "
    "AS journey, "
    "count(*) AS n_events, min(ts) AS first_ts, max(ts) AS last_ts "
    "FROM events GROUP BY user_id"
))
def q_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory assembly (behavioral-training-data prep): per user,
    the CHRONOLOGICAL sequence of event types plus span stats — built
    with sort_array over (ts, event_id, type) structs inside a single
    grouped aggregate, so ordering needs no window pass and no global
    sort; one user-keyed shuffle total. The (ts, event_id) compound
    sort key makes tie rows deterministic."""
    ev = _ev(spark, sf_dir)
    step = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        F.col("event_type").alias("t"),
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(F.collect_list(step)), lambda s: s["t"]
                ),
            ).alias("journey"),
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


@register("dim_misattribution", oracle=(
    "WITH dim AS (SELECT user_id, ts AS eff_ts, max(value) AS segment "
    "FROM events WHERE event_type = 'signup' GROUP BY 1, 2), "
    "fact AS (SELECT event_id, user_id, ts FROM events), "
    "correct AS (SELECT f.event_id, f.user_id, f.ts, "
    "d.segment AS asof_segment FROM fact f ASOF LEFT JOIN dim d "
    "ON f.user_id = d.user_id AND f.ts >= d.eff_ts), "
    "naive AS (SELECT user_id, segment AS naive_segment FROM "
    "(SELECT user_id, segment, row_number() OVER "
    "(PARTITION BY user_id ORDER BY eff_ts DESC) AS rn FROM dim) "
    "WHERE rn = 1) "
    "SELECT CAST(date_trunc('month', c.ts) AS DATE) AS month, "
    "count(*) FILTER (WHERE c.asof_segment IS NOT NULL) "
    "AS n_attributed, "
    "count(*) FILTER (WHERE c.asof_segment IS NOT NULL "
    "AND c.asof_segment <> n.naive_segment) AS n_misattributed "
    "FROM correct c LEFT JOIN naive n ON c.user_id = n.user_id "
    "GROUP BY 1"
))
def q_dim_misattribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one empirical data-quality number: naive
    current-dimension reuse misattributes ~0.077% of events to the
    wrong user (v2/README.MD:40) — the defect its v2 migration exists
    to fix. This query IS that audit, over the fixture: treat signup
    events as dimension-change rows (the user's segment is the signup's
    value); attribute every event (a) point-in-time via as-of join (the
    SCD2-correct answer) and (b) naively via the user's LATEST segment,
    then count disagreements per month. Composes asof_join + a
    broadcast latest-dim join; the oracle replays both with DuckDB's
    native ASOF."""
    ev = _ev(spark, sf_dir).select("event_id", "user_id", "ts")
    dim = (
        _ev(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .groupBy("user_id", F.col("ts").alias("eff_ts"))
        .agg(F.max("value").alias("segment"))
    )
    correct = tmp.asof_join(
        ev, dim, key="user_id", left_ts="ts", right_ts="eff_ts",
        payload=["segment"],
    )
    w = Window.partitionBy("user_id").orderBy(F.col("eff_ts").desc())
    naive = (
        dim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("segment").alias("naive_segment"))
    )
    attributed = correct.join(F.broadcast(naive), "user_id", "left")
    has_hist = F.col("asof_segment").isNotNull()
    mismatch = has_hist & (
        F.col("asof_segment") != F.col("naive_segment")
    )
    return (
        attributed.groupBy(
            F.date_trunc("month", F.col("ts")).cast("date").alias("month")
        )
        .agg(
            F.count(F.when(has_hist, 1)).alias("n_attributed"),
            F.count(F.when(mismatch, 1)).alias("n_misattributed"),
        )
    )


def _strip_markup_sql(expr: str) -> str:
    """SQL twin of text.strip_markup over an arbitrary expression."""
    out = f"regexp_replace({expr}, '<[^>]*>', ' ', 'g')"
    for ent, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        out = f"replace({out}, '{ent}', '{rep}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def _curation_sql() -> str:
    score_exprs, case = _lang_sql_parts()
    toks = (
        "len(list_filter(regexp_split_to_array(lower(text), "
        "'[^a-z0-9'']+'), x -> x <> ''))"
    )
    return (
        "WITH cl AS (SELECT doc_id, "
        + _strip_markup_sql("text")
        + " AS text FROM documents), "
        "m AS (SELECT doc_id, text, CAST("
        + toks
        + " AS INTEGER) AS ntok, length(text) AS nchars FROM cl), "
        "k AS (SELECT * FROM m WHERE ntok >= 5 AND nchars >= 20), "
        "s AS (SELECT doc_id, text, ntok, nchars, "
        + ", ".join(score_exprs)
        + " FROM k), "
        "l AS (SELECT doc_id, text, ntok, nchars, "
        + case
        + " AS pred_lang FROM s), "
        "d AS (SELECT *, md5(text) AS fp FROM l "
        "WHERE pred_lang <> 'unknown'), "
        "dd AS (SELECT * FROM d QUALIFY "
        "row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1), "
        "sp AS (SELECT *, CASE WHEN "
        "((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 < 8000 "
        "THEN 'train' ELSE 'test' END AS split FROM dd) "
        "SELECT split, pred_lang, count(*) AS n_docs, "
        "CAST(sum(ntok) AS BIGINT) AS sum_tokens, "
        "CAST(sum(nchars) AS BIGINT) AS sum_chars "
        "FROM sp GROUP BY 1, 2"
    )


@register("curation_pipeline", oracle=_curation_sql())
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-curation composite, hash-verified end-to-end:
    markup strip → token/length quality gate → language-ID (drop
    unknown) → exact dedup (md5 fingerprint, lowest doc_id survives) →
    deterministic train/test split → per-(split, lang) corpus stats.
    Every stage is an already-oracled operator; the composite's SQL
    twin chains their twins, so stage INTERACTIONS (filter ordering,
    survivor selection, split stability) are value-hash-checked, not
    just each stage in isolation. All stages except the dedup window
    are row-local codegen; the dedup is one fingerprint-keyed shuffle."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cleaned = docs.select(
        "doc_id", txt.strip_markup(F.col("text")).alias("text")
    )
    enriched = cleaned.select(
        "doc_id",
        "text",
        F.size(txt.word_tokens(F.col("text"))).alias("ntok"),
        F.length("text").alias("nchars"),
    )
    kept = enriched.filter((F.col("ntok") >= 5) & (F.col("nchars") >= 20))
    lang = txt.lang_id(kept).filter(F.col("pred_lang") != "unknown")
    w = Window.partitionBy("fp").orderBy("doc_id")
    dd = (
        lang.withColumn("fp", F.md5(F.col("text")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    sp = smp.train_test_split(dd, "doc_id")
    return sp.groupBy("split", "pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ntok").alias("sum_tokens"),
        F.sum("nchars").alias("sum_chars"),
    )


@register("clean_text", oracle=(
    "SELECT doc_id, trim(regexp_replace("
    "replace(replace(replace(replace(replace(replace("
    "regexp_replace("
    "'<div class=\"doc\"><p>' || text || "
    "'</p>&nbsp;<b>x &amp;amp; y</b>' || chr(9) || '<br/> tail</div>', "
    "'<[^>]*>', ' ', 'g'), "
    "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
    "'&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'), "
    "'\\s+', ' ', 'g')) AS clean FROM documents"
))
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping over planted HTML: each document is wrapped in
    tags with entities (including a double-encoded one) before cleaning,
    so the oracle verifies the strip/decode/collapse chain actually
    fires on every row — not that a no-op equals a no-op."""
    planted = F.concat(
        F.lit('<div class="doc"><p>'),
        F.col("text"),
        F.lit("</p>&nbsp;<b>x &amp;amp; y</b>\t<br/> tail</div>"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", txt.strip_markup(planted).alias("clean")
    )


@register("sessionize", oracle=(
    "SELECT user_id, event_id, ts, "
    "CAST(sum(new_sess) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) "
    "AS session_seq FROM ("
    "SELECT user_id, event_id, ts, "
    "CASE WHEN lag(ts) OVER w IS NULL OR "
    "epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000 "
    "THEN 1 ELSE 0 END AS new_sess FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))"
))
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization: per-user 1-day-gap sessions over
    the events stream — one keyed window pass (lag boundary flag +
    running sum), the batch twin of the streaming session_window."""
    ev = _ev(spark, sf_dir)
    return tmp.sessionize(
        ev.select("user_id", "event_id", "ts"),
        key_col="user_id",
        ts_col="ts",
        gap_minutes=60 * 24,
        tiebreak_col="event_id",
    )


_CONTAMINATION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 5
      THEN list_distinct(list_transform(range(1, CAST(len(t) AS INTEGER) - 3),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
             || ' ' || t[i+4]))
      ELSE [] END AS gs
  FROM toks
), r AS (
  SELECT doc_id, unnest(gs) AS gram FROM g
), split AS (
  SELECT doc_id,
    ((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 < 8000
      AS is_train
  FROM documents
)
SELECT r.doc_id, count(*) AS n_shared_grams
FROM r JOIN split s ON r.doc_id = s.doc_id
WHERE s.is_train AND r.gram IN (
  SELECT DISTINCT r2.gram FROM r r2
  JOIN split s2 ON r2.doc_id = s2.doc_id WHERE NOT s2.is_train)
GROUP BY r.doc_id
"""


@register("contamination", oracle=_CONTAMINATION_SQL)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (hash split, 80%) sharing
    any word 5-gram with the held-out 20% — the broadcast probe of the
    held-out gram set against the training scan. Counts per doc are
    oracle-verified."""
    docs = _docs(spark, sf_dir)
    is_train = smp.hash_basis_points(F.col("doc_id")) < 8000
    return txt.contamination(
        docs.filter(is_train), docs.filter(~is_train), n=5
    )


@register("snapshot_diff", oracle=(
    "WITH old AS (SELECT event_id, value FROM events), "
    "new AS ("
    "SELECT event_id, CASE WHEN event_id % 89 = 0 "
    "THEN value + 1.0 ELSE value END AS value "
    "FROM events WHERE event_id % 97 <> 0 "
    "UNION ALL "
    "SELECT event_id + 10000000 AS event_id, value FROM events "
    "WHERE event_id % 101 = 0) "
    "SELECT COALESCE(o.event_id, n.event_id) AS event_id, "
    "CASE WHEN o.event_id IS NULL THEN 'added' "
    "WHEN n.event_id IS NULL THEN 'removed' "
    "WHEN o.value IS DISTINCT FROM n.value THEN 'changed' END "
    "AS change_type "
    "FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id "
    "WHERE CASE WHEN o.event_id IS NULL THEN 'added' "
    "WHEN n.event_id IS NULL THEN 'removed' "
    "WHEN o.value IS DISTINCT FROM n.value THEN 'changed' END "
    "IS NOT NULL"
))
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: the 'new' snapshot is derived from events by
    removing every 97th row, bumping value on every 89th, and adding a
    shifted-id copy of every 101st — the diff must classify exactly
    those as removed/changed/added and drop everything unchanged.
    NULL-safe comparison, one full-outer join on the key."""
    from from_superset_to_clickhouse_spark.operators.cdc import snapshot_diff

    ev = _ev(spark, sf_dir).select("event_id", "value")
    mod = F.pmod(F.col("event_id"), F.lit(97))
    new = (
        ev.filter(mod != 0)
        .withColumn(
            "value",
            F.when(
                F.pmod(F.col("event_id"), F.lit(89)) == 0,
                F.col("value") + 1.0,
            ).otherwise(F.col("value")),
        )
        .unionByName(
            ev.filter(F.pmod(F.col("event_id"), F.lit(101)) == 0).select(
                (F.col("event_id") + 10_000_000).alias("event_id"), "value"
            )
        )
    )
    return snapshot_diff(ev, new, keys=["event_id"])


@register("agg_merge", oracle=(
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
    "event_type, count(*) AS n, "
    f"CAST(sum(CAST(floor(value * {_FXP}) AS BIGINT)) AS DOUBLE) "
    f"/ {_FXP} AS sum_value "
    "FROM events GROUP BY 1, 2"
))
def q_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate refresh: the month × type agg
    is built from the pre-cutoff half of events, then merged with the
    aggregate of the post-cutoff increment by summing partials — two
    incremental refreshes must equal the full recompute (the oracle
    aggregates everything in one pass). History is never rescanned."""
    from from_superset_to_clickhouse_spark.operators.cdc import (
        merge_partial_aggregates,
    )

    ev = _ev(spark, sf_dir).select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "event_type",
        F.floor(F.col("value") * _FXP).alias("v"),
    )
    cutoff = dt.date(2024, 1, 16)  # fixture events span January 2024
    half1 = ev.filter(F.col("day") < F.lit(cutoff))
    half2 = ev.filter(F.col("day") >= F.lit(cutoff))

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n"), F.sum("v").alias("sum_v")
        )

    merged = merge_partial_aggregates(
        agg(half1), agg(half2), keys=["day", "event_type"], sum_cols=["n", "sum_v"]
    )
    return merged.select(
        "day",
        "event_type",
        "n",
        (F.col("sum_v").cast("double") / _FXP).alias("sum_value"),
    )


_CC_SQL = """
WITH RECURSIVE e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM documents a JOIN documents b
    ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
), sym AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.node
)
SELECT node, min(lbl) AS component FROM reach GROUP BY node
"""


@register("connected_components", oracle=_CC_SQL)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a deterministic doc graph (edges join
    consecutive doc_ids sharing a language → same-lang runs become
    components, so label propagation is exercised over real multi-hop
    chains, not just star cliques). The iterative Spark loop must agree
    with a DuckDB RECURSIVE CTE computing min reachable label — an
    oracle for an iterative algorithm."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    b = docs.select(
        (F.col("doc_id") - 1).alias("prev_id"),
        F.col("doc_id").alias("dst"),
        F.col("lang").alias("b_lang"),
    )
    edges = docs.join(
        b, (docs.doc_id == b.prev_id) & (docs.lang == b.b_lang)
    ).select(F.col("doc_id").alias("src"), "dst")
    return connected_components(
        edges, nodes=docs.select(F.col("doc_id").alias("node"))
    )


@register("cc_incremental", oracle=_CC_SQL)
def q_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: the same doc graph as
    `connected_components`, but arriving in two batches — components
    built from batch 1, then batch 2 folded in via the COLLAPSED graph
    (old edges forgotten; known endpoints stand in as their component
    reps), whose size scales with the batch, not the corpus. The
    oracle is the FULL-graph recursive CTE: incremental ≡ full,
    hash-compared — the same contract minhash_incremental proves for
    the dedup index."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    b = docs.select(
        (F.col("doc_id") - 1).alias("prev_id"),
        F.col("doc_id").alias("dst"),
        F.col("lang").alias("b_lang"),
    )
    edges = docs.join(
        b, (docs.doc_id == b.prev_id) & (docs.lang == b.b_lang)
    ).select(F.col("doc_id").alias("src"), "dst")
    batch1 = edges.filter(F.col("src") % 2 == 0)
    batch2 = edges.filter(F.col("src") % 2 == 1)
    comp = connected_components(
        batch1, nodes=docs.select(F.col("doc_id").alias("node"))
    )
    return connected_components_incremental(comp, batch2)


@register("domain_stats", oracle=(
    "SELECT regexp_extract(text || ' via https://site' || "
    "CAST(doc_id % 50 AS VARCHAR) || '.example.org/p/' || "
    "CAST(doc_id AS VARCHAR), "
    "'" + txt.URL_RE + "', 1) AS domain, "
    "count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars "
    "FROM documents GROUP BY 1"
))
def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus stats (crawl-curation primitive): extract the
    host of each document's URL, aggregate doc count and mean length per
    domain. The fixture text carries no URLs, so the query PLANTS one
    per doc (host derived from doc_id mod 50) — the oracle verifies
    extraction + aggregation actually fire on every row."""
    planted = F.concat(
        F.col("text"),
        F.lit(" via https://site"),
        F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
        F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    return (
        _docs(spark, sf_dir)
        .select(txt.url_domain(planted).alias("domain"), "n_chars")
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_transform(range(1, CAST(len(t) AS INTEGER) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [] END AS gs
  FROM toks
)
SELECT doc_id,
  CAST(len(gs) AS INTEGER) AS n_grams,
  CAST(len(list_distinct(gs)) AS INTEGER) AS n_distinct,
  CASE WHEN len(gs) > 0
    THEN (len(gs) - len(list_distinct(gs))) / CAST(len(gs) AS DOUBLE)
    ELSE 0.0 END AS dup_frac
FROM g
"""


@register("repetition", oracle=_REPETITION_SQL)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram fraction per document (repetition/boilerplate
    quality signal). The dup_frac division's operands are engine-exact
    integers, so no rounding detour is needed for the oracle."""
    return txt.repetition_metrics(_docs(spark, sf_dir))


# DuckDB twin of q_quantile_tiers: boundaries by the SQL-standard
# percentile_disc definition (smallest value with cume_dist >= p),
# spelled out via cume_dist so the oracle does not depend on any
# engine's quantile indexing convention.
_QTILE_SQL = (
    "WITH r AS (SELECT n_chars AS v, "
    "cume_dist() OVER (ORDER BY n_chars) AS cd FROM documents), "
    "b AS (SELECT "
    + ", ".join(
        f"min(CASE WHEN cd >= {i / 10} THEN v END) AS b{i}"
        for i in range(1, 10)
    )
    + " FROM r) SELECT doc_id, n_chars, CAST(1 + "
    + " + ".join(
        f"(CASE WHEN n_chars > b{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
    )
    + " AS INTEGER) AS tier FROM documents, b"
)


@register("quantile_tiers", oracle=_QTILE_SQL)
def q_quantile_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe decile tiers: percentile_disc boundary agg + codegen
    comparisons (``sampling.quantile_buckets``). The plan has no global
    sort and no shuffle of the documents scan — contrast ``ntile_tiers``
    (the exact-population twin), whose single-partition window is the
    thing this operator exists to avoid at 100 TB."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return smp.quantile_buckets(docs, "n_chars", n_buckets=10)


@register("lead_lag", oracle=(
    "SELECT user_id, event_id, event_type, "
    "epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us, "
    "lead(event_type) OVER w AS next_type FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
))
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window navigation: per-user inter-event gap in seconds
    and next event type — the building block of sessionization and
    funnel analysis. Partitioned by user, so the window parallelizes on
    the user key; the (ts, event_id) compound order makes tie rows
    deterministic."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        # microsecond difference: integer math, exact in both engines
        # (NULL for each user's first event, via lag's NULL propagating)
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register("grouping_sets", oracle=(
    "SELECT event_type, "
    "CAST(date_trunc('month', ts) AS DATE) AS month, "
    "count(*) AS n_events, " + _fxp_sum_sql("value") + " AS sum_value "
    "FROM events GROUP BY GROUPING SETS ("
    "(event_type, CAST(date_trunc('month', ts) AS DATE)), "
    "(event_type), ())"
))
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — finer control than ROLLUP/CUBE (already
    covered): totals by (type, month), by type alone, and grand total,
    but NOT by month alone. One pass, partial-aggregated per set."""
    ev = _ev(spark, sf_dir)
    ev.createOrReplaceTempView("_gs_events")
    return spark.sql(
        f"""
        SELECT event_type,
               CAST(date_trunc('month', ts) AS DATE) AS month,
               count(*) AS n_events,
               {_fxp_sum_sql('value')} AS sum_value
        FROM _gs_events
        GROUP BY GROUPING SETS (
            (event_type, CAST(date_trunc('month', ts) AS DATE)),
            (event_type),
            ()
        )
        """
    )


@register("tpch_q10", oracle=(
    "SELECT c_custkey, c_name, c_acctbal, n_name, "
    + _fxp_sum_sql("l_extendedprice * (1 - l_discount)")
    + " AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "AND o_orderdate >= TIMESTAMP '1998-01-01' "
    "AND o_orderdate < TIMESTAMP '1998-07-01' "
    "GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20"
))
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue ranking (TPC-H Q10 shape): customer ⋈
    orders ⋈ lineitem('R') ⋈ nation, grouped revenue, deterministic
    top-20. Customer and nation broadcast; lineitem shuffles once."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1998, 1, 1)))
        & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 7, 1)))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_fxp_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register("tpch_q19", oracle=(
    "SELECT "
    + _fxp_sum_sql("l_extendedprice * (1 - l_discount)")
    + " AS revenue, count(*) AS n_lines "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 "
    "AND l_quantity BETWEEN 1 AND 11) "
    "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 20 "
    "AND l_quantity BETWEEN 10 AND 20)"
))
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-attribute predicate (TPC-H Q19 shape): an OR of
    conjunctive (brand, size, quantity) bands across the lineitem ⋈ part
    join. Exercises how the optimizer splits an OR across join sides:
    the part-only and lineitem-only conjuncts are still pushed to their
    scans as a derived OR filter."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 20))
            & (F.col("l_quantity").between(10, 20))
        )
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            _fxp_sum(revenue).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register("tpch_q20", oracle=(
    "SELECT s_suppkey, s_name, s_acctbal FROM supplier "
    "WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem "
    "WHERE l_partkey IN (SELECT p_partkey FROM part "
    "WHERE p_type = 'PROMO') "
    "GROUP BY l_suppkey HAVING sum(l_quantity) > 400)"
))
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN subqueries (TPC-H Q20 shape): suppliers that moved more
    than 400 units of PROMO parts. Both IN lists decorrelate into
    semi-joins: part keys broadcast into the lineitem agg, the
    qualifying supplier keys broadcast into supplier."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    promo_parts = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    movers = (
        li.join(F.broadcast(promo_parts), li.l_partkey == promo_parts.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 400)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(movers), supp.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


@register("try_arith", oracle=(
    "SELECT event_id, CAST(NULL AS DOUBLE) AS div_by_zero, "
    "value / 2.0 AS half, "
    "TRY_CAST(props AS INTEGER) AS props_as_int FROM events"
))
def q_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic: Spark 4 runs with ANSI ON (division by
    zero / overflow / bad casts THROW), so guarded pipelines use the
    try_* family. value/(value-value) forces a division by zero on every
    row — try_divide yields NULL instead of aborting the job; try_cast
    of the textual props field to int NULLs the unparseable rows."""
    ev = _ev(spark, sf_dir)
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("value") - F.col("value")).alias(
            "div_by_zero"
        ),
        F.try_divide(F.col("value"), F.lit(2.0)).alias("half"),
        F.col("props").try_cast("int").alias("props_as_int"),
    )


@register("pii_redact", oracle=(
    "SELECT doc_id, regexp_replace(regexp_replace("
    "text || ' reach me at user' || CAST(doc_id AS VARCHAR) || "
    "'@mail.example.com or +1 (555) 010-' || "
    "lpad(CAST(doc_id AS VARCHAR), 4, '0'), "
    "'" + txt.PII_EMAIL_RE + "', '<EMAIL>', 'g'), "
    "'" + txt.PII_PHONE_RE + "', '<PHONE>', 'g') AS clean "
    "FROM documents"
))
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (pre-training redaction): emails and phone-like runs
    masked by pure-codegen regexp_replace. The fixture text is clean, so
    the query PLANTS one email and one phone per doc (derived from
    doc_id) before scrubbing — the oracle thereby verifies the masking
    actually fires on every row, not that a no-op equals a no-op."""
    planted = F.concat(
        F.col("text"),
        F.lit(" reach me at user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1 (555) 010-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", txt.redact_pii(planted).alias("clean")
    )


@register("pack_sequences", oracle=(
    "WITH s AS (SELECT doc_id, n_chars, "
    "CAST(((doc_id % 1000003) * 514229 + 285311) % 1000003 % 8 "
    "AS INTEGER) AS shard FROM documents) "
    "SELECT doc_id, n_chars, shard, "
    "CAST(floor(COALESCE(SUM(n_chars) OVER w, 0) / 4096.0) "
    "AS INTEGER) AS bin, "
    "CAST(COALESCE(SUM(n_chars) OVER w, 0) % 4096 AS INTEGER) "
    "AS bin_offset FROM s WINDOW w AS (PARTITION BY shard "
    "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND 1 PRECEDING)"
))
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into fixed char-budget training bins,
    shard-parallel (no global sort — a single global ORDER BY window
    would serialize the corpus through one task at 100 TB)."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return smp.pack_sequences(
        docs, token_col="n_chars", id_col="doc_id", budget=4096, shards=8
    )


@register("tpch_q4", oracle=(
    "SELECT o_orderpriority, count(*) AS n_orders FROM orders o "
    "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' "
    "AND EXISTS (SELECT 1 FROM lineitem l "
    "WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) "
    "GROUP BY o_orderpriority"
))
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / semi-join (TPC-H Q4 shape, adapted to the trimmed
    fixture: "shipped more than 60 days after ordering" stands in for
    commit-vs-receipt lateness).

    The correlated EXISTS compiles to a LEFT SEMI hash join on
    l_orderkey with the date comparison as a join residual — one
    shuffle, no row duplication from multi-match, which is the point of
    semi-join semantics at scale."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 1, 1)))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register("tpch_q5", oracle=(
    "SELECT n_name, "
    + _fxp_sum_sql("l_extendedprice * (1 - l_discount)")
    + " AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' "
    "AND o_orderdate >= TIMESTAMP '1997-01-01' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' "
    "GROUP BY n_name"
))
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): 6-way join
    customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region with the
    same-nation residual (c_nationkey = s_nationkey).

    Plan shape: lineitem⋈orders shuffles once on orderkey; customer,
    supplier, nation, region are all broadcastable dims, so the fact
    table is shuffled exactly once."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 1, 1)))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_fxp_sum(revenue).alias("revenue"))
    )


@register("tpch_q12", oracle=(
    "SELECT l_returnflag, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_lines "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1998-01-01' "
    "AND l_shipdate < TIMESTAMP '1999-01-01' "
    "GROUP BY l_returnflag"
))
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a join (TPC-H Q12 shape, with
    o_orderpriority standing in for the missing l_shipmode): per return
    flag, how many shipped lines belong to high- vs low-priority orders.
    The CASE WHEN folds into the partial aggregate — a single shuffle of
    pre-combined counts."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1998, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1999, 1, 1)))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_lines"),
        )
    )


@register("tpch_q14", oracle=(
    "SELECT 100.0 * ("
    + _fxp_sum_sql(
        "CASE WHEN p_type = 'PROMO' "
        "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
    )
    + ") / ("
    + _fxp_sum_sql("l_extendedprice * (1 - l_discount)")
    + ") AS promo_revenue_pct, count(*) AS n_lines "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= TIMESTAMP '1998-03-01' "
    "AND l_shipdate < TIMESTAMP '1998-04-01'"
))
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share (TPC-H Q14 shape): broadcast part dim, one
    month of lineitem, CASE-gated numerator over a common denominator.
    Both sums go through the fixed-point detour so the final division is
    a single deterministic IEEE op on identical operands in both
    engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1998, 3, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1998, 4, 1)))
    )
    part = _t(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (F.lit(100.0) * _fxp_sum(promo) / _fxp_sum(disc_price)).alias(
                "promo_revenue_pct"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register("tpch_q18", oracle=(
    "SELECT c_name, c_custkey, o_orderkey, "
    "CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, "
    "total_qty FROM orders "
    "JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty "
    "FROM lineitem GROUP BY l_orderkey "
    "HAVING sum(l_quantity) > 300) big "
    "ON o_orderkey = big.l_orderkey "
    "JOIN customer ON o_custkey = c_custkey"
))
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 shape): HAVING on a grouped sum,
    then the qualifying keys drive a semi-join back into orders ⋈
    customer. The qualifying-key set is tiny (HAVING > 300 keeps <0.5%
    of orders), so it broadcasts — the big tables are never shuffled on
    anything but their join keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


@register("tpch_q17", oracle=(
    "SELECT " + _fxp_sum_sql("l_extendedprice") + " AS total_price, "
    "count(*) AS n_lines FROM lineitem li JOIN "
    "(SELECT l_partkey, avg(l_quantity) AS avg_qty "
    "FROM lineitem GROUP BY l_partkey) pa "
    "ON li.l_partkey = pa.l_partkey "
    "WHERE li.l_quantity < 0.5 * pa.avg_qty"
))
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar-aggregate subquery (TPC-H Q17 shape): lines
    whose quantity is below 50% of their part's average quantity.

    Decorrelated the way an optimizer would: the per-part AVG is a
    grouped agg (one shuffle of partial sums), broadcast back onto
    lineitem — no per-row subquery execution. avg = exact-integer sum /
    exact count, so the 0.5×avg threshold is bit-identical across
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    avg_q = (
        li.groupBy("l_partkey")
        .agg(F.avg("l_quantity").alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(avg_q), "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            _fxp_sum(F.col("l_extendedprice")).alias("total_price"),
            F.count("*").alias("n_lines"),
        )
    )


@register("tpch_q2", oracle=(
    "WITH sn AS (SELECT s_suppkey, s_name, s_acctbal, s_nationkey, "
    "n_name FROM supplier s JOIN nation n "
    "ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'EUROPE'), "
    "m AS (SELECT s_nationkey, min(s_acctbal) AS min_bal "
    "FROM sn GROUP BY 1) "
    "SELECT sn.s_suppkey, sn.s_name, sn.n_name, sn.s_acctbal "
    "FROM sn JOIN m ON sn.s_nationkey = m.s_nationkey "
    "AND sn.s_acctbal = m.min_bal"
))
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-min subquery + dim chain (TPC-H Q2 shape, adapted to
    the trimmed fixture — no partsupp, so s_acctbal stands in for
    ps_supplycost): in EUROPE, the supplier(s) with the minimum account
    balance of their nation. The correlated MIN decorrelates into a
    grouped agg broadcast back onto the dim-chained supplier side —
    no per-row subquery execution."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey", "n_name")
    )
    mins = sn.groupBy(F.col("s_nationkey").alias("_nk")).agg(
        F.min("s_acctbal").alias("_min_bal")
    )
    return (
        sn.join(
            F.broadcast(mins),
            (sn.s_nationkey == mins._nk) & (sn.s_acctbal == mins._min_bal),
        )
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
    )


@register("tpch_q7", oracle=(
    "SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS INTEGER) AS l_year, "
    + _fxp_sum_sql("l_extendedprice * (1 - l_discount)") + " AS revenue "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "JOIN nation n1 ON c.c_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON s.s_nationkey = n2.n_nationkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l.l_shipdate < TIMESTAMP '1998-01-01' "
    "AND ((n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2') "
    "OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1')) "
    "GROUP BY 1, 2, 3"
))
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between nation pairs (TPC-H Q7 shape): lineitem ⋈
    orders ⋈ customer ⋈ supplier with TWO roles of the nation dim (the
    customer's and the supplier's), filtered to the two directed pairs,
    grouped by (supp_nation, cust_nation, ship year). The fact shuffles
    once per big join key; both nation copies broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1998, 1, 1)))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_s_nk"), F.col("n_name").alias("supp_nation")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1._c_nk)
        .join(F.broadcast(n2), supp.s_nationkey == n2._s_nk)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_fxp_sum(revenue).alias("revenue"))
    )


@register("tpch_q8", oracle=(
    "SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, "
    + _fxp_sum_sql(
        "CASE WHEN n2.n_name = 'NATION_3' THEN "
        "l_extendedprice * (1 - l_discount) ELSE 0.0 END"
    )
    + " / (" + _fxp_sum_sql("l_extendedprice * (1 - l_discount)")
    + ") AS mkt_share, count(*) AS n_lines "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n1 ON c.c_nationkey = n1.n_nationkey "
    "JOIN region r ON n1.n_regionkey = r.r_regionkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "JOIN nation n2 ON s.s_nationkey = n2.n_nationkey "
    "WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA' "
    "AND o.o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1998-01-01' "
    "GROUP BY 1"
))
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): of all ECONOMY-part
    revenue sold into ASIA per order year, the fraction supplied by
    NATION_3. Numerator and denominator both ride the fixed-point
    detour, so the final share is one deterministic IEEE divide."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 1, 1)))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_c_nk"), F.col("n_regionkey").alias("_c_rk")
    )
    nation_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    nat = F.when(F.col("supp_nation") == "NATION_3", revenue).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), cust.c_nationkey == F.col("_c_nk"))
        .join(F.broadcast(region), F.col("_c_rk") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == F.col("_s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (_fxp_sum(nat) / _fxp_sum(revenue)).alias("mkt_share"),
            F.count("*").alias("n_lines"),
        )
    )


@register("tpch_q9", oracle=(
    "SELECT n.n_name AS nation, "
    "CAST(year(o_orderdate) AS INTEGER) AS o_year, "
    + _fxp_sum_sql("l_extendedprice * (1 - l_discount)")
    + " AS sum_profit, count(*) AS n_lines "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "WHERE p.p_name LIKE '%widget%' GROUP BY 1, 2"
))
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-line profit by nation and year (TPC-H Q9 shape, minus the
    absent ps_supplycost term): for parts named like '%widget%', profit
    = discounted revenue grouped by (supplier nation, order year). Part
    filter broadcasts into the fact scan; nation broadcasts onto the
    supplier side."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    profit = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(_fxp_sum(profit).alias("sum_profit"), F.count("*").alias("n_lines"))
    )


@register("tpch_q11", oracle=(
    f"WITH v AS (SELECT l_partkey, "
    f"sum(CAST(floor(l_extendedprice * l_quantity * {_FXP}) AS BIGINT)) "
    "AS iv FROM lineitem l JOIN supplier s "
    "ON l.l_suppkey = s.s_suppkey WHERE s.s_nationkey = 5 "
    "GROUP BY 1), t AS (SELECT sum(iv) AS itot FROM v) "
    "SELECT l_partkey, "
    f"CAST(iv AS DOUBLE) / {_FXP} AS part_value "
    "FROM v, t WHERE CAST(iv AS DOUBLE) > CAST(itot AS DOUBLE) * 0.001"
))
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape, lineitem value
    standing in for partsupp): per part shipped by NATION_5 suppliers,
    total value = sum(extendedprice × quantity); keep parts whose value
    exceeds 0.1% of the global total (the scalar-subquery HAVING).

    Determinism: per-part values are exact fixed-point INTEGER sums and
    the global total is the exact integer sum of those integers; the
    only floating op is the final threshold multiply — one IEEE product
    of identical operands in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 5)
    vals = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * F.col("l_quantity") * _FXP)
            ).alias("_iv")
        )
    )
    total = vals.agg(F.sum("_iv").alias("_itot"))
    return (
        vals.join(F.broadcast(total))
        .filter(F.col("_iv").cast("double") > F.col("_itot").cast("double") * 0.001)
        .select(
            "l_partkey",
            (F.col("_iv").cast("double") / F.lit(_FXP)).alias("part_value"),
        )
    )


@register("tpch_q13", oracle=(
    "SELECT c_count, count(*) AS custdist FROM "
    "(SELECT c.c_custkey, count(o.o_orderkey) AS c_count "
    "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
    "AND o.o_orderpriority <> '1-URGENT' GROUP BY 1) "
    "GROUP BY 1"
))
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT join so
    zero-order customers survive with count 0, then a histogram over the
    per-customer counts — two keyed shuffles, no driver loop."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register("tpch_q15", oracle=(
    "WITH rev AS (SELECT l_suppkey, "
    + _fxp_sum_sql("l_extendedprice * (1 - l_discount)")
    + " AS total_revenue FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY 1) "
    "SELECT s_suppkey, s_name, total_revenue "
    "FROM supplier JOIN rev ON s_suppkey = rev.l_suppkey "
    "WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"
))
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): quarterly revenue per supplier,
    then the supplier(s) matching the global MAX — the scalar subquery
    broadcasts a single row back onto the aggregate. Revenue is
    fixed-point, so the MAX-equality join can't flake on FP noise."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1997, 4, 1)))
    )
    supp = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    rev = li.groupBy("l_suppkey").agg(_fxp_sum(revenue).alias("total_revenue"))
    top = rev.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        supp.join(F.broadcast(rev), supp.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register("tpch_q16", oracle=(
    "SELECT p_brand, p_type, p_size, "
    "count(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE p.p_brand <> 'Brand#9' AND p.p_size <= 25 "
    "AND l.l_suppkey NOT IN "
    "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY 1, 2, 3"
))
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part/supplier relationship count (TPC-H Q16 shape, lineitem as
    the part-supplier relation): distinct suppliers per (brand, type,
    size), excluding one brand and "complaint" suppliers (negative
    account balance stands in for the comment scan). The exclusion list
    is tiny → broadcast anti-join; count_distinct shuffles once on the
    group key."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9") & (F.col("p_size") <= 25)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register("tpch_q21", oracle=(
    "WITH lo AS (SELECT l_orderkey, l_suppkey, "
    "l_shipdate > o_orderdate + INTERVAL 90 DAY AS late "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
    "lp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late), "
    "ap AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo) "
    "SELECT s.s_suppkey, s.s_name, count(*) AS numwait "
    "FROM lp JOIN supplier s ON lp.l_suppkey = s.s_suppkey "
    "WHERE s.s_nationkey = 0 "
    "AND EXISTS (SELECT 1 FROM ap WHERE ap.l_orderkey = lp.l_orderkey "
    "AND ap.l_suppkey <> lp.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lp lp2 "
    "WHERE lp2.l_orderkey = lp.l_orderkey "
    "AND lp2.l_suppkey <> lp.l_suppkey) "
    "GROUP BY 1, 2"
))
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape, adapted:
    "late" = shipped >90 days after ordering): NATION_0 suppliers with a
    late line on a multi-supplier order where NO other supplier was
    late.

    The classic plan runs the EXISTS + NOT-EXISTS pair as a semi-join
    and an anti-join over (order, supplier) pair sets — three shuffles
    of the pair relation. Both quantifiers collapse into ONE per-order
    aggregate instead: for a late pair (o, s), "another supplier
    exists" ⇔ n_suppliers(o) ≥ 2 and "no other supplier was late" ⇔
    n_late_suppliers(o) = 1 (s itself). One orderkey-keyed aggregate +
    one join back onto the late pairs — measured ~1.7× the
    two-self-join plan at sf0.1, and at scale it shuffles the pair
    relation once instead of three times."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("_late"),
    )
    order_stats = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("_n_supp"),
        F.count_distinct(
            F.when(F.col("_late"), F.col("l_suppkey"))
        ).alias("_n_late_supp"),
    )
    late_pairs = (
        lo.filter(F.col("_late")).select("l_orderkey", "l_suppkey").distinct()
    )
    sole_late = late_pairs.join(order_stats, "l_orderkey").filter(
        (F.col("_n_supp") >= 2) & (F.col("_n_late_supp") == 1)
    )
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 0)
    return (
        sole_late.join(F.broadcast(supp), sole_late.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register("tpch_q22", oracle=(
    "WITH a AS (SELECT "
    + _fxp_sum_sql("c_acctbal")
    + " / count(*) AS avg_bal FROM customer WHERE c_acctbal > 0.0) "
    "SELECT c_nationkey, count(*) AS numcust, "
    + _fxp_sum_sql("c_acctbal") + " AS totacctbal "
    "FROM customer, a WHERE c_nationkey < 7 "
    "AND c_acctbal > a.avg_bal "
    "AND c_custkey NOT IN (SELECT o_custkey FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1999-01-01') "
    "GROUP BY 1"
))
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (TPC-H Q22 shape): customers from seven
    nations (nation key stands in for the phone country code) with an
    above-average positive balance and no RECENT orders (the fixture's
    customers all have old orders, so "no orders since 1999" keeps the
    anti-join non-vacuous) — scalar-subquery threshold (fixed-point avg,
    deterministic) + anti-join on the order keys, grouped per nation."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 7)
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(dt.datetime(1999, 1, 1)))
        .select("o_custkey")
        .distinct()
    )
    pos = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (_fxp_sum(F.col("c_acctbal")) / F.count("*")).alias("_avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            _fxp_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect = ANSI subset; views pre-registered)
# ---------------------------------------------------------------------------


_HYBRID_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                       x -> x <> '')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), qtf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('merge', 'spark', 'stream', 'vector') GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df_docs FROM qtf GROUP BY 1
), bscore AS (
  SELECT qtf.doc_id,
    ln(1.0 + (stats.n_docs - dfreq.df_docs + 0.5) / (dfreq.df_docs + 0.5))
      * (qtf.tf * (1.2 + 1.0))
      / (qtf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
  FROM qtf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), bagg AS (
  -- round-to-6 BEFORE ranking, matching bm25_topk's scored aggregate
  SELECT doc_id, round(sum(s), 6) AS score FROM bscore GROUP BY 1
), sparse AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
        AS rank
    FROM bagg) WHERE rank <= 30
), qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT n.vec_id AS doc_id,
    {_DOT.format(a='qv.embedding', b='n.embedding')}
    / ({_NORM.format(a='qv.embedding')} * {_NORM.format(a='n.embedding')})
      AS sim
  FROM embeddings n CROSS JOIN qv WHERE n.vec_id <> 0
), dense AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
      CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INTEGER)
        AS rank
    FROM pairs) WHERE rank <= 30
), fused AS (
  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
    coalesce(1.0 / (60.0 + s.rank), 0) + coalesce(1.0 / (60.0 + d.rank), 0)
      AS sc
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
)
SELECT doc_id, round(sc, 6) AS rrf_score,
  CAST(row_number() OVER (ORDER BY sc DESC, doc_id) AS INTEGER) AS rank
FROM fused ORDER BY sc DESC, doc_id LIMIT 15
"""


_BM25_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                       x -> x <> '')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), qtf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('merge', 'spark', 'stream', 'vector') GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df_docs FROM qtf GROUP BY 1
), scored AS (
  SELECT qtf.doc_id,
    ln(1.0 + (stats.n_docs - dfreq.df_docs + 0.5) / (dfreq.df_docs + 0.5))
      * (qtf.tf * (1.2 + 1.0))
      / (qtf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
  FROM qtf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, round(sum(s), 6) AS score FROM scored GROUP BY 1
)
SELECT doc_id, score,
  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
FROM agg ORDER BY score DESC, doc_id LIMIT 15
"""


@register("bm25_topk", oracle=_BM25_SQL)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval: top-15 documents for a 4-term query.
    The serving path of an inverted index without materializing one —
    postings are filtered to the query terms before any aggregation, so
    the only full corpus pass is the doc-length aggregate."""
    return txt.bm25_topk(
        _docs(spark, sf_dir), ["spark", "vector", "merge", "stream"], k=15
    )


# Oracle for the STEMMED BM25 entry: the fixture corpus contains only
# base surface forms (no inflections), so Porter-stemmed retrieval for
# the inflected query ["merged","queries","customers","tables"] must
# produce statistics identical to surface BM25 over the base forms —
# the stem classes {merg,queri,custom,tabl} each contain exactly one
# corpus surface form (hand-derived from the published algorithm and
# pinned in tests/test_text.py, NOT computed by the engine's own
# stemmer — no circularity). Surface BM25 for the inflected forms
# would return 0 rows; matching this oracle proves the stemmer
# bridged the inflection gap with exact BM25 math.
_BM25_STEMMED_SQL = _BM25_SQL.replace(
    "('merge', 'spark', 'stream', 'vector')",
    "('customer', 'merge', 'query', 'table')",
)


@register("bm25_stemmed", oracle=_BM25_STEMMED_SQL)
def q_bm25_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Porter-STEMMED BM25 retrieval (VERDICT r7 item 3): the inflected
    query ["merged","queries","customers","tables"] — none of which
    appears in the corpus as a surface form, so unstemmed BM25 returns
    NOTHING — retrieves via stem classes {merg,queri,custom,tabl}.
    Corpus tokens are stemmed in one Arrow-batched UDF pass with
    a per-task memo (Zipfian vocabulary -> extreme hit rate); the
    oracle is surface BM25 over the base forms, valid because each stem
    class contains exactly one fixture surface form (hand-derived from
    the published 1980 algorithm, pinned in tests — not by the engine's
    own stemmer)."""
    return txt.bm25_topk(
        _docs(spark, sf_dir),
        ["merged", "queries", "customers", "tables"],
        k=15,
        stem=True,
    )


@register("hybrid_retrieval", oracle=_HYBRID_SQL)
def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval with reciprocal-rank fusion — the
    standard RAG serving pattern: BM25 top-30 for a 4-term query fused
    with embedding-cosine top-30 around document 0 (vec_id ≡ doc_id in
    the fixture), score = Σ 1/(60 + rank), final top-15. Rank-only
    fusion needs no score calibration between the incomparable BM25 and
    cosine scales; both input lists are already top-depth so the fusion
    joins ~30-row DataFrames — the corpus passes happened inside the
    retrievers."""
    docs = _docs(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    sparse = txt.bm25_topk(
        docs, ["spark", "vector", "merge", "stream"], k=30
    ).select("doc_id", "rank")
    dense = simi.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=30
    ).select(F.col("n_id").alias("doc_id"), "rank")
    return simi.rrf_fuse([sparse, dense], k=15)


@register("ewma", oracle=(
    "WITH src AS (SELECT event_id, event_type, ts, value "
    "FROM events WHERE value IS NOT NULL), "
    "w AS (SELECT event_id, event_type, ts, "
    "list(value) OVER (PARTITION BY event_type "
    "ORDER BY ts, event_id "
    "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS l FROM src) "
    "SELECT event_type, ts, event_id, "
    "round(list_sum(list_transform(l, "
    "(x, i) -> x * pow(0.7, len(l) - i))) "
    "/ list_sum(list_transform(l, "
    "(x, i) -> pow(0.7, len(l) - i))), 6) AS smoothed FROM w"
))
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window EWMA per event_type (ClickHouse
    exponentialMovingAverage analog): normalized (1−α)^age decayed mean
    over the 5-row trailing frame in (ts, event_id) order — one keyed
    window pass + a codegen HOF fold, replayed bit-for-bit by DuckDB's
    list lambdas (same left-to-right fold order)."""
    return tmp.ewma_smooth(
        _ev(spark, sf_dir),
        "event_type", "ts", "value",
        alpha=0.3, lookback=5, tiebreak_col="event_id",
    )


_RESAMPLE_SQL = r"""
WITH agg AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket,
    count(*) AS n_events, round(sum(value), 6) AS val
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type AS key,
    min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi
  FROM events GROUP BY 1
), spine AS (
  SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT s.key, s.bucket,
  COALESCE(a.n_events, 0) AS n_events,
  last_value(a.val IGNORE NULLS) OVER (
    PARTITION BY s.key ORDER BY s.bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val,
  CAST(a.val IS NULL AS INTEGER) AS is_gap
FROM spine s LEFT JOIN agg a ON s.key = a.key AND s.bucket = a.bucket
"""


@register("resample_ffill", oracle=_RESAMPLE_SQL)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample with forward fill (TimescaleDB
    ``time_bucket_gapfill``+``locf`` / ClickHouse ``WITH FILL`` analog):
    per event_type, one row per hour between its first and last event;
    empty hours carry the last seen hourly sum forward. The grid is
    generated (``sequence``), the fill is one keyed running window —
    same single-shuffle shape as ``asof_join``."""
    return tmp.resample_ffill(
        _ev(spark, sf_dir), "event_type", "ts", "value", step="1 hour"
    )


_WEIGHTED_SAMPLE_SQL = r"""
WITH ref AS (SELECT max(n_chars) AS w_ref FROM documents),
kept AS (
  SELECT d.* FROM documents d CROSS JOIN ref
  WHERE ((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 * w_ref
        < 5000 * n_chars
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
  CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM kept GROUP BY source
"""


@register("weighted_sample", oracle=_WEIGHTED_SAMPLE_SQL)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli corpus sampling: keep each document with
    probability ∝ n_chars (the importance-sampling primitive of corpus
    curation), via a PURE-INTEGER deterministic hash test — bit-exact
    in any engine, stable under repartition. Output: kept doc count and
    token mass per source."""
    kept = smp.weighted_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars", target_bp=5000
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
    )


# The three PageRank power iterations unrolled; (1-d)/N is computed in
# forced-DOUBLE arithmetic so the constant is bit-identical to the
# engine's Python-float 1.0 - 0.85.
_PAGERANK_SQL = r"""
WITH e AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), od AS (
  SELECT src, count(*) AS outdeg FROM e GROUP BY 1
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / count(*) AS base
  FROM nodes
),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.n AS pr FROM nodes CROSS JOIN n),
c1 AS (
  SELECT e.dst, sum(r0.pr / od.outdeg) AS inflow
  FROM r0 JOIN e ON r0.node = e.src JOIN od ON e.src = od.src GROUP BY 1
),
r1 AS (
  SELECT nodes.node,
    n.base + CAST(0.85 AS DOUBLE) * COALESCE(c1.inflow, 0.0) AS pr
  FROM nodes CROSS JOIN n LEFT JOIN c1 ON nodes.node = c1.dst
),
c2 AS (
  SELECT e.dst, sum(r1.pr / od.outdeg) AS inflow
  FROM r1 JOIN e ON r1.node = e.src JOIN od ON e.src = od.src GROUP BY 1
),
r2 AS (
  SELECT nodes.node,
    n.base + CAST(0.85 AS DOUBLE) * COALESCE(c2.inflow, 0.0) AS pr
  FROM nodes CROSS JOIN n LEFT JOIN c2 ON nodes.node = c2.dst
),
c3 AS (
  SELECT e.dst, sum(r2.pr / od.outdeg) AS inflow
  FROM r2 JOIN e ON r2.node = e.src JOIN od ON e.src = od.src GROUP BY 1
),
r3 AS (
  SELECT nodes.node,
    n.base + CAST(0.85 AS DOUBLE) * COALESCE(c3.inflow, 0.0) AS pr
  FROM nodes CROSS JOIN n LEFT JOIN c3 ON nodes.node = c3.dst
),
final AS (SELECT node, round(pr, 9) AS pr FROM r3)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_sup,
  round(sum(pr), 6) AS pr_mass
FROM final
JOIN supplier ON final.node = 's:' || s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@register("pagerank_nations", oracle=_PAGERANK_SQL)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d=0.85) over the customer→supplier
    trade graph (orders⋈lineitem edge list), rolled up to supplier-PR
    mass per nation — 'which nations' suppliers sit at the center of
    the trade network'. The oracle is the same three iterations
    unrolled as CTEs; dangling-node semantics declared identically."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # Node ids are PACKED LONGS (custkey×2 / suppkey×2+1), not "c:123"
    # strings: the graph is identical (customer/supplier key spaces are
    # disjoint by the parity bit) but every per-iteration shuffle hashes
    # and compares 8-byte longs instead of variable-length strings —
    # measured 1.4× on the whole entry at sf0.1. The oracle keeps its
    # own string labels; only the nation rollup is compared.
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    from from_superset_to_clickhouse_spark.operators import graph as gr

    ranks = gr.pagerank(edges, iters=3, damping=0.85)
    sup = _t(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node"),
        "s_nationkey",
    )
    nat = _t(spark, sf_dir, "nation")
    return (
        ranks.join(F.broadcast(sup), "node")
        .join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_sup"),
            F.round(F.sum("pr"), 6).alias("pr_mass"),
        )
    )


@register("bfs_hops", oracle=r"""
-- Recursive-CTE BFS twin: UNION (not UNION ALL) dedups (node, hops)
-- states against everything already produced, so the walk table is
-- V x H bounded on this dense bipartite graph instead of enumerating
-- exponentially many walks; MIN(hops) per node = shortest distance
-- within the 4-hop truncation.
WITH RECURSIVE e AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT dst AS a, src AS b FROM e
), bfs(node, hops) AS (
  SELECT CAST(2 AS BIGINT) AS node, 0 AS hops
  UNION
  SELECT s.b, b.hops + 1 FROM bfs b JOIN sym s ON s.a = b.node
  WHERE b.hops < 4
)
SELECT CAST(node AS BIGINT) AS node,
  CAST(MIN(hops) AS INTEGER) AS hops
FROM bfs GROUP BY node
""")
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS shortest hop counts over the undirected
    customer↔supplier trade graph (packed-long node ids, same edge
    list as pagerank_nations), source = customer 1, truncated at 4
    hops. Completes the graph tier's traversal gap (CC/PageRank/label
    prop/triangles but no path queries); the oracle is a recursive CTE
    with UNION-dedup state — (node, hops) pairs, so the replay is
    V×H-bounded, not walk-enumerating — and MIN(hops) per node."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return gr.shortest_hops(edges, [2], max_hops=4)


_UNPIVOT_SQL = r"""
WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 997 = 0)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
  l_quantity AS value FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
"""


@register("unpivot_metrics", oracle=_UNPIVOT_SQL)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via the built-in ``unpivot`` (ClickHouse has no
    UNPIVOT; this is the `arrayJoin(map)` idiom done relationally):
    three lineitem measures become (metric, value) rows. Zero-shuffle —
    unpivot is a generator expression inside the scan stage."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 997 == 0
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "value",
    )


_SEMANTIC_DEDUP_SQL = f"""
WITH seeds AS (
  SELECT vec_id AS seed_id, embedding AS sv FROM embeddings WHERE vec_id < 16
), scored AS (
  SELECT e.vec_id, s.seed_id,
    round({_DOT.format(a='e.embedding', b='s.sv')}
      / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='s.sv')}),
      6) AS score
  FROM embeddings e CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id, seed_id AS cluster FROM (
    SELECT vec_id, seed_id, row_number() OVER (
      PARTITION BY vec_id ORDER BY score DESC, seed_id) AS rn
    FROM scored) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT y.vec_id
  FROM assigned x
  JOIN assigned y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN embeddings ea ON ea.vec_id = x.vec_id
  JOIN embeddings eb ON eb.vec_id = y.vec_id
  WHERE round({_DOT.format(a='ea.embedding', b='eb.embedding')}
    / ({_NORM.format(a='ea.embedding')} * {_NORM.format(a='eb.embedding')}),
    6) >= 0.9
)
SELECT a.vec_id, a.cluster,
  CAST(d.vec_id IS NULL AS INTEGER) AS keep
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


@register("semantic_dedup", oracle=_SEMANTIC_DEDUP_SQL)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: nearest-prototype clustering
    (16 lowest-id vectors as deterministic seeds) + within-cluster
    lower-id near-dup pruning at cosine ≥ 0.9. Pairwise work is Σ|c|²
    instead of N² — the reason the method exists."""
    return simi.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.9, n_seeds=16
    )


_URL_CANON_SQL = r"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://D' || (doc_id % 50) || '.Example.COM'
    || (CASE WHEN doc_id % 4 = 0 THEN ':80'
             WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
    || '/p/' || (doc_id % 20)
    || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=' || (doc_id % 5)
             WHEN doc_id % 3 = 1 THEN '?a=' || (doc_id % 5) || '&b=2'
             ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
  FROM documents
), parts AS (
  SELECT doc_id,
    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(nofrag, '^[^:/?#]+://([^/?#]*)', 1)) AS host,
    regexp_extract(nofrag, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(nofrag, '\?([^#]*)', 1) AS q
  FROM (SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS nofrag FROM u)
), canon AS (
  SELECT doc_id,
    scheme || '://'
    || (CASE WHEN scheme = 'http' THEN regexp_replace(host, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(host, ':443$', '')
             ELSE host END)
    || (CASE WHEN path = '' THEN '/' ELSE path END)
    || (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
             ELSE '' END) AS curl
  FROM (
    SELECT *, list_sort(list_filter(string_split(q, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
        '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|igshid|ref)='))) AS kept
    FROM parts)
)
SELECT doc_id, curl,
  CAST(count(*) OVER (PARTITION BY curl) AS BIGINT) AS dup_count
FROM canon
"""


@register("url_canonical", oracle=_URL_CANON_SQL)
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-URL canonicalization + dup grouping: synthesize one messy
    URL per document (mixed-case scheme/host, scheme-default ports,
    tracking params, unsorted query order, fragments — all planted by
    doc_id), canonicalize with ``canonical_url`` (codegen regex + array
    ops), and count the resulting dup group sizes. The oracle is an
    INDEPENDENT DuckDB reimplementation of the same canonicalization
    contract, so a wrong regex anchor, a scheme-unaware port strip, or
    an unsorted param list all hash-mismatch."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    url = F.concat(
        F.when(i % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://D"),
        s(i % 50),
        F.lit(".Example.COM"),
        F.when(i % 4 == 0, F.lit(":80"))
        .when(i % 4 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/p/"),
        s(i % 20),
        F.when(
            i % 3 == 0,
            F.concat(F.lit("?utm_source=feed&b=2&a="), s(i % 5)),
        )
        .when(i % 3 == 1, F.concat(F.lit("?a="), s(i % 5), F.lit("&b=2")))
        .otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    out = d.select(
        "doc_id", txt.canonical_url(url).alias("curl")
    )
    w = Window.partitionBy("curl")
    return out.select(
        "doc_id", "curl", F.count(F.lit(1)).over(w).alias("dup_count")
    )


@register("linreg", oracle=(
    "SELECT l_returnflag, "
    "CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) "
    "AS n, "
    "round(regr_slope(l_extendedprice, l_quantity), 6) AS slope, "
    "round(regr_intercept(l_extendedprice, l_quantity), 6) "
    "AS intercept, "
    "round(regr_r2(l_extendedprice, l_quantity), 6) AS r2 "
    "FROM lineitem GROUP BY 1"
))
def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped simple linear regression (ClickHouse
    simpleLinearRegression / SQL REGR_* analog): extendedprice fit
    against quantity per returnflag, one conditional-aggregate pass
    with NULL-pairwise exclusion. The oracle is DuckDB's OWN
    regr_slope/regr_intercept/regr_r2 — an independent implementation,
    not a replay of our arithmetic."""
    from from_superset_to_clickhouse_spark.operators import stats as st

    li = _t(spark, sf_dir, "lineitem")
    return st.linear_regression(
        li, "l_quantity", "l_extendedprice", ["l_returnflag"]
    )


_AB_SQL = r"""
WITH base AS (
  SELECT event_type AS experiment,
    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
    CAST(value AS DOUBLE) AS m
  FROM events
), agg AS (
  SELECT experiment,
    count(CASE WHEN variant = 'A' THEN m END) AS n_a,
    avg(CASE WHEN variant = 'A' THEN m END) AS mean_a,
    var_samp(CASE WHEN variant = 'A' THEN m END) AS var_a,
    count(CASE WHEN variant = 'B' THEN m END) AS n_b,
    avg(CASE WHEN variant = 'B' THEN m END) AS mean_b,
    var_samp(CASE WHEN variant = 'B' THEN m END) AS var_b
  FROM base GROUP BY 1
), calc AS (
  SELECT *,
    sqrt(var_a / n_a + var_b / n_b) AS se,
    (mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b) AS z
  FROM agg
), et AS (
  SELECT *, abs(z) / sqrt(2.0) AS x,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
  FROM calc
)
SELECT experiment,
  CAST(n_a AS BIGINT) AS n_a, round(mean_a, 6) AS mean_a,
  CAST(n_b AS BIGINT) AS n_b, round(mean_b, 6) AS mean_b,
  round(mean_b - mean_a, 6) AS lift,
  round(se, 6) AS se,
  round(z, 6) AS z,
  round(2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(x * x)))) / 2.0), 6)
    AS p_value
FROM et
"""


@register("ab_test", oracle=_AB_SQL)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment analysis (the reference ingests Superset's
    ab_user table; this is the read side): per event-type 'experiment',
    users split into arms by id parity, Welch z-test on the value
    metric — one conditional-aggregate pass, then scalar arithmetic.
    The normal CDF is the A&S 7.1.26 erf polynomial written out
    explicitly, so the oracle replays the identical operations instead
    of trusting two engines' libm erf to agree."""
    from from_superset_to_clickhouse_spark.operators import stats as st

    ev = _ev(spark, sf_dir).select(
        F.col("event_type").alias("experiment"),
        F.when(F.col("user_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("variant"),
        "value",
    )
    return st.ab_ztest(ev, "experiment", "variant", "value")


def _label_prop_sql(iters: int = 2) -> str:
    """Unrolled synchronous label-propagation rounds as DuckDB CTEs —
    oracle twin of ``operators/graph.py:label_propagation`` over the
    packed-long trade graph."""
    parts = [
        "e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)",
        "nodes AS (SELECT DISTINCT a AS node FROM sym)",
        "sd AS (SELECT s_suppkey * 2 + 1 AS node, s_nationkey AS seed "
        "FROM supplier)",
        "l0 AS (SELECT n.node, sd.seed AS label FROM nodes n "
        "LEFT JOIN sd USING (node))",
    ]
    for i in range(iters):
        parts.append(
            f"v{i + 1} AS (SELECT sym.b AS node, l{i}.label, count(*) AS n "
            f"FROM l{i} JOIN sym ON l{i}.node = sym.a "
            f"WHERE l{i}.label IS NOT NULL GROUP BY 1, 2)"
        )
        parts.append(
            f"b{i + 1} AS (SELECT node, label AS new FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY node "
            f"ORDER BY n DESC, label ASC) AS rn FROM v{i + 1}) WHERE rn = 1)"
        )
        parts.append(
            f"l{i + 1} AS (SELECT l{i}.node, "
            f"coalesce(sd.seed, b{i + 1}.new, l{i}.label) AS label "
            f"FROM l{i} LEFT JOIN b{i + 1} USING (node) "
            f"LEFT JOIN sd USING (node))"
        )
    return (
        "WITH " + ", ".join(parts) + f" SELECT node, label FROM l{iters}"
    )


@register("label_prop", oracle=_label_prop_sql(iters=2))
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the customer↔supplier
    trade graph: suppliers are seeded with their nation key, two
    synchronous rounds spread labels to customers (deterministic
    majority vote, ties to the smallest label, seeds clamped). The
    oracle unrolls the same rounds as CTEs — a vote-count bug, a tie
    flip, or a missing clamp all hash-mismatch."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    seeds = _t(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node"),
        F.col("s_nationkey").alias("label"),
    )
    from from_superset_to_clickhouse_spark.operators import graph as gr

    return gr.label_propagation(edges, seeds, iters=2)


_BIGRAM_SQL = r"""
WITH docs_t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), uni AS (
  SELECT w, count(*) AS c1 FROM (
    SELECT unnest(t) AS w FROM docs_t) GROUP BY w
), tot AS (
  SELECT CAST(sum(c1) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
  FROM uni
), big AS (
  SELECT bg, count(*) AS c12 FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS bg
    FROM docs_t WHERE len(t) >= 2) GROUP BY bg
), scored AS (
  SELECT d.doc_id, d.bg,
    split_part(d.bg, ' ', 1) AS w1, split_part(d.bg, ' ', 2) AS w2
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i + 1])) AS bg
    FROM docs_t WHERE len(t) >= 2) d
)
SELECT s.doc_id,
  round(avg(ln(
    0.7 * coalesce(big.c12 / CAST(u1.c1 AS DOUBLE), 0.0)
    + (1.0 - 0.7) * (coalesce(u2.c1, 0) + 1) / (tot.n + tot.v)
  )), 6) AS bigram_logprob
FROM scored s
LEFT JOIN big USING (bg)
LEFT JOIN uni u1 ON s.w1 = u1.w
LEFT JOIN uni u2 ON s.w2 = u2.w
CROSS JOIN tot
GROUP BY s.doc_id
"""


@register("bigram_lm", oracle=_BIGRAM_SQL)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM self-scoring over documents (λ=0.7):
    the sequence-aware upgrade of `lm_score` — word ORDER now matters,
    which is the signal CCNet's KenLM filter actually uses. The oracle
    recomputes counts, interpolation and smoothing from scratch in
    SQL, building bigrams with 1-based list indexing (a fencepost bug
    on either side hash-mismatches)."""
    return txt.bigram_lm_scores(_docs(spark, sf_dir))


@register("media_dedup", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, "
    "CASE WHEN doc_id % 3 = 0 THEN 'png' "
    "WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'gif' END AS format, "
    "CAST(doc_id % 64 + 1 AS INTEGER) AS width, "
    "CAST(doc_id % 48 + 1 AS INTEGER) AS height, "
    "CAST(doc_id = doc_id % 192 AS INTEGER) AS keep "
    "FROM documents"
))
def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation composition: REAL image bytes → container
    header decode (dims) + JVM-side sha256 content hash → exact
    content dedup keeping the lowest media_id per identical payload.
    The synthesize contract makes payload bytes a function of
    doc_id % 192 (format × width × height cycle), so the oracle
    predicts dup groups arithmetically while the engine must earn them
    from actual byte equality; the hash itself never crosses to
    Python."""
    imgs = mm.synthesize_images(_docs(spark, sf_dir), "doc_id")
    dims = mm.image_dims(imgs)
    w = Window.partitionBy("h")
    keep = (
        imgs.select(
            "media_id", F.sha2(F.col("payload"), 256).alias("h")
        )
        .select(
            "media_id",
            (F.col("media_id") == F.min("media_id").over(w))
            .cast("int")
            .alias("keep"),
        )
    )
    return dims.join(keep, "media_id")


@register("zorder_read", oracle=(
    "SELECT event_id, user_id, value FROM events "
    "WHERE user_id BETWEEN 100 AND 300 "
    "AND value BETWEEN 10.0 AND 60.0"
))
def q_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering end-to-end (the Delta OPTIMIZE…ZORDER BY
    analog): events relaid along the (user_id, value) Morton curve —
    layout-only, rows bit-identical — then a two-column box read. The
    oracle is the plain SQL box filter: a clustering rewrite that
    loses, duplicates or mutates one row hash-mismatches; the
    multi-dimensional file-skipping WIN is gated in pytest
    (files-touched drops after the rewrite)."""
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(
        Schema(
            name="store_events_z",
            fields=(
                Field("event_id", "bigint", nullable=False),
                Field("ts", "timestamp", nullable=False),
                Field("user_id", "bigint"),
                Field("value", "double"),
            ),
        )
    )
    ev = _ev(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    store.append("store_events_z", ev)
    store.optimize_zorder("store_events_z", ["user_id", "value"])
    return (
        store.read("store_events_z")
        .filter(
            F.col("user_id").between(100, 300)
            & F.col("value").between(10.0, 60.0)
        )
        .select("event_id", "user_id", "value")
    )


@register("update_mutation", oracle=(
    "SELECT event_id, event_type, "
    "CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS value "
    "FROM events"
))
def q_update_mutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE … UPDATE mutation end-to-end (the ClickHouse
    mutation analog): load events into a day-partitioned store, then
    zero out the value of every 'error' event — only partitions
    containing errors rewrite; assignment sees the original row; other
    rows ride through bit-identical. Returned state must equal the
    CASE-expression twin over the raw table."""
    store, ev = _store_events(spark, sf_dir)
    store.append("store_events", ev)
    store.update_where(
        "store_events",
        F.col("event_type") == F.lit("error"),
        {"value": F.lit(0.0)},
    )
    return store.read("store_events").select(
        "event_id", "event_type", "value"
    )


@register("merge_upsert", oracle=(
    "SELECT event_id, event_type, "
    "round(CASE WHEN event_type = 'click' THEN -value ELSE value "
    "END, 6) AS value FROM events WHERE event_id % 2 = 0 "
    "UNION ALL "
    "SELECT event_id, event_type, round(value, 6) AS value "
    "FROM events WHERE event_id % 2 = 1 AND event_type = 'click'"
))
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO end-to-end (the lakehouse upsert): load even-id
    events into a day-partitioned store, then merge a source holding
    (a) every 'click' even-id row with its value negated — matched →
    UPDATE — and (b) all odd-id click rows — not matched → INSERT.
    Only partitions containing clicks rewrite; inserts ride the append
    path. Final state must equal the CASE/UNION twin over the raw
    table — a missed update, a resurrected row, or a dropped insert
    all hash-mismatch. (Own non-dedup store: MERGE refuses dedup-keyed
    tables, whose append already upserts.)"""
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(
        _STORE_SCHEMA.clone("store_merge", dedup_key=(), version_col=None)
    )
    ev = _ev(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    store.append("store_merge", ev.filter(F.col("event_id") % 2 == 0))
    clicks = ev.filter(F.col("event_type") == "click")
    src = clicks.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", -F.col("value")
    ).unionByName(clicks.filter(F.col("event_id") % 2 == 1))
    store.merge_into("store_merge", src, on=["event_id"])
    return store.read("store_merge").select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )


@register("projection_agg", oracle=(
    "SELECT event_type, round(sum(value), 4) AS value_sum, "
    "CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY 1"
))
def q_projection_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-PROJECTION analog end-to-end: an append-only events
    store declares a (event_type → sum(value), count) projection; TWO
    appends each write one partial-aggregate batch (history never
    rescanned), and the projection read merges partials WITHOUT
    touching the fact table. Result must equal the plain GROUP BY over
    everything appended — a dropped batch, a double-counted partial,
    or a bad merge all hash-mismatch."""
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(
        Schema(
            name="store_events_proj",
            fields=(
                Field("event_id", "bigint", nullable=False),
                Field("ts", "timestamp", nullable=False),
                Field("event_type", "string"),
                Field("value", "double"),
            ),
        )
    )
    ev = _ev(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    store.append("store_events_proj", ev.filter(F.col("event_id") % 2 == 0))
    store.add_projection("store_events_proj", "by_type", ["event_type"], ["value"])
    store.append("store_events_proj", ev.filter(F.col("event_id") % 2 == 1))
    return store.read_projection("store_events_proj", "by_type").select(
        "event_type",
        F.round("value", 4).alias("value_sum"),
        F.col("_rows").alias("n_rows"),
    )


@register("ngram_read", oracle=(
    "SELECT event_id, ts, event_type, value FROM events "
    "WHERE event_type LIKE '%urchas%'"
))
def q_ngram_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram bloom skip-index substring read end-to-end (the
    ClickHouse ``INDEX … TYPE ngrambf_v1`` analog): load events into a
    day-partitioned store with a trigram bloom declared on
    ``event_type`` — writes maintain per-partition gram bitmaps from
    the increment — then read ``event_type LIKE '%urchas%'``; every
    trigram of the needle must be present in a partition's bitmap or
    the partition is pruned at planning time, and the result must equal
    the plain SQL substring filter ('urchas' hits only 'purchase'
    rows)."""
    store = TableStore(spark, tempfile.mkdtemp(prefix="sg_store_"))
    store.create(
        Schema(
            name="store_events_ngram",
            fields=(
                Field("event_id", "bigint", nullable=False),
                Field("ts", "timestamp", nullable=False),
                Field("event_type", "string"),
                Field("value", "double"),
            ),
            partition_by=("ts_day",),
            sort_by=("event_id",),
        )
    )
    store.add_ngram_bloom_index("store_events_ngram", "event_type", n=3)
    ev = _ev(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    store.append("store_events_ngram", ev)
    return store.read_like("store_events_ngram", "event_type", "urchas").select(
        "event_id", "ts", "event_type", "value"
    )


_DEDUP_EVAL_SQL = (
    _MINHASH_SQL.replace(
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
        """, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.s, b.s)) /
        greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1),
        6) >= 0.5
), m AS (
  SELECT (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM exact) AS n_exact,
         (SELECT count(*) FROM cand JOIN exact USING (id_a, id_b)) AS tp
)
SELECT n_cand, n_exact, tp,
  round(tp / CAST(greatest(n_cand, 1) AS DOUBLE), 6) AS precision,
  round(tp / CAST(greatest(n_exact, 1) AS DOUBLE), 6) AS recall
FROM m
""",
    )
)


@register("dedup_eval", oracle=_DEDUP_EVAL_SQL)
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring dedup quality: precision/recall of the MinHash+LSH
    candidate set against the EXACT all-pairs Jaccard ≥ 0.5 truth —
    'measure, don't guess' as an oracle-checked entry. Both pipelines
    are the already-verified operators (md5 family); this entry joins
    candidates with truth and reduces to one metrics row, so the
    engine's published recall claim is itself hash-verified by the SQL
    twin recomputing both pipelines plus the metric arithmetic."""
    docs = _docs(spark, sf_dir)
    exact = ddp.ngram_jaccard_pairs(docs, threshold=0.5).select(
        "id_a", "id_b"
    )
    cand = (
        ddp.minhash_candidates(docs, hash_family="md5")
        .select("id_a", "id_b")
        .distinct()
    )
    tp = cand.join(exact, ["id_a", "id_b"]).count()
    n_cand, n_exact = cand.count(), exact.count()
    return spark.createDataFrame(
        [
            (
                n_cand,
                n_exact,
                tp,
                round(tp / max(n_cand, 1), 6),
                round(tp / max(n_exact, 1), 6),
            )
        ],
        "n_cand bigint, n_exact bigint, tp bigint, "
        "precision double, recall double",
    )


@register("export_shards", oracle=(
    "SELECT CAST(doc_id % 8 AS INTEGER) AS shard, "
    "count(*) AS n_rows, "
    "bit_xor((doc_id % 1000000007) * 2654435761 + 40503) AS xor_fp, "
    "count(*) AS manifest_n, "
    "bit_xor((doc_id % 1000000007) * 2654435761 + 40503) "
    "AS manifest_fp, "
    "1 AS ok FROM documents GROUP BY 1"
))
def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded training-data export + loader-side verification:
    documents written as 8 deterministic hash shards with a manifest
    (per-shard count + order-independent XOR fingerprint), then
    re-derived FROM DISK and joined back — every ok flag must be 1,
    and counts/fingerprints must match the oracle's arithmetic twin.
    A lost file, duplicated task output, or mis-sharded row
    hash-mismatches."""
    from from_superset_to_clickhouse_spark.sources.readers import (
        export_shards,
        verify_shards,
    )

    path = tempfile.mkdtemp(prefix="sg_shards_")
    export_shards(_docs(spark, sf_dir), path, n_shards=8, id_col="doc_id")
    return verify_shards(spark, path, id_col="doc_id")


@register("build_vocab", oracle=(
    "SELECT token, CAST(row_number() OVER ("
    "ORDER BY count(*) DESC, token) AS INTEGER) AS token_id, "
    "count(*) AS count FROM ("
    "SELECT unnest(list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9'']+'), x -> x <> '')) AS token FROM documents) "
    "GROUP BY token QUALIFY token_id <= 1000"
))
def q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vocabulary build (the embedding-table id map):
    top-1000 tokens, ids dense by (count DESC, token ASC). The
    id-assignment sort runs over the vocabulary, not the corpus — the
    single SinglePartition window in this plan is over ≤|vocab| rows by
    construction, the one place a global order is genuinely the
    semantics."""
    return txt.build_vocab(_docs(spark, sf_dir), max_vocab=1000)


_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                       x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), n AS (
  SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1
), e AS (
  SELECT tf.doc_id, max(n.n) AS n_tokens, count(*) AS distinct_tokens,
    round(-sum((tf.tf / CAST(n.n AS DOUBLE))
               * ln(tf.tf / CAST(n.n AS DOUBLE))), 6) + 0.0 AS entropy,
    round(count(*) / CAST(max(n.n) AS DOUBLE), 6) AS ttr
  FROM tf JOIN n USING (doc_id) GROUP BY tf.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(e.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(coalesce(e.distinct_tokens, 0) AS BIGINT) AS distinct_tokens,
  coalesce(e.entropy, 0.0) AS entropy,
  coalesce(e.ttr, 0.0) AS ttr
FROM documents d LEFT JOIN e USING (doc_id)
"""


@register("token_entropy", oracle=_ENTROPY_SQL)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution diversity per document: Shannon entropy +
    type-token ratio over the word-frequency distribution — the
    repetitiveness signal curation rules threshold on. -0.0 is
    normalized to 0.0 on both sides (single-token docs hit it)."""
    out = txt.token_entropy(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        (F.col("entropy") + F.lit(0.0)).alias("entropy"),
        "ttr",
    )


_GOPHER_SQL = (
    r"""
WITH base AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
    string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    len(toks) AS g_words,
    list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS wc,
    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_n,
    len(list_filter(lines, l -> ends_with(l, '...'))) AS ell_n,
    len(lines) AS n_lines,
    """
    + "{stop_hits}"
    + r""" AS stop_hits
  FROM base
)
SELECT doc_id,
  CAST(g_words AS INTEGER) AS g_words,
  round(coalesce(wc, 0) / CAST(greatest(g_words, 1) AS DOUBLE), 4)
    AS g_mean_wl,
  round(alpha_n / CAST(greatest(g_words, 1) AS DOUBLE), 6) AS g_alpha_frac,
  round(ell_n / CAST(greatest(n_lines, 1) AS DOUBLE), 6) AS g_ellipsis_frac,
  CAST(stop_hits AS INTEGER) AS g_stop_hits,
  CAST(g_words BETWEEN 10 AND 100000
    AND (coalesce(wc, 0) / CAST(greatest(g_words, 1) AS DOUBLE)) BETWEEN 2 AND 12
    AND alpha_n / CAST(greatest(g_words, 1) AS DOUBLE) >= 0.8
    AND ell_n / CAST(greatest(n_lines, 1) AS DOUBLE) <= 0.3
    AND stop_hits >= 2 AS INTEGER) AS keep
FROM m
"""
)


@register("gopher_gate", oracle=(
    _GOPHER_SQL.format(
        stop_hits=" + ".join(
            _occ_sql("(' ' || lower(text) || ' ')", f" {w} ")
            for w in txt.GATE_STOPWORDS
        )
    )
))
def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style composite quality gate: five per-document rules
    (word-count bounds, mean-word-length band, alphabetic-word
    fraction, ellipsis-line fraction, stopword presence) each surfaced
    as a flag plus the AND'd keep — filter AND audit in one pass, pure
    codegen, zero shuffles. The oracle re-implements every rule in
    SQL."""
    return txt.gopher_gate(_docs(spark, sf_dir))


_NB_SQL = r"""
WITH labeled AS (
  SELECT doc_id, text, CAST(length(text) > 400 AS INT) AS y FROM documents
), toks AS (
  SELECT doc_id, y, substr(md5(t), 1, 2) AS bucket FROM (
    SELECT doc_id, y,
      unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                         x -> x <> '')) AS t
    FROM labeled)
), tot AS (
  SELECT CAST(sum(y) AS DOUBLE) AS pos_tot,
         CAST(sum(1 - y) AS DOUBLE) AS neg_tot FROM toks
), w AS (
  SELECT bucket,
    ln((sum(y) + 1.0) / (tot.pos_tot + 256.0))
      - ln((sum(1 - y) + 1.0) / (tot.neg_tot + 256.0)) AS w
  FROM toks CROSS JOIN tot GROUP BY bucket, tot.pos_tot, tot.neg_tot
), prior AS (
  SELECT ln((sum(y) + 1.0) / (sum(1 - y) + 1.0)) AS prior FROM labeled
), sums AS (
  SELECT toks.doc_id, sum(w.w) AS s FROM toks JOIN w USING (bucket)
  GROUP BY toks.doc_id
)
SELECT l.doc_id,
  round(coalesce(s.s, 0.0) + prior.prior, 6) AS score,
  CAST(coalesce(s.s, 0.0) + prior.prior > 0 AS INT) AS pred
FROM labeled l LEFT JOIN sums s ON l.doc_id = s.doc_id CROSS JOIN prior
"""


@register("nb_classifier", oracle=_NB_SQL)
def q_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed naive-Bayes quality classifier, trained AND applied
    distributed (the fasttext-filter shape): label = length(text) > 400
    (content-derived, SQL-replayable), features = md5-prefix hashed
    word buckets (256), training = one (bucket × label) count aggregate
    + Laplace log-odds, scoring = broadcast weight join + per-doc sum +
    class prior. In-sample scoring by design — the entry tests the
    distributed training/apply machinery, and the oracle recomputes the
    entire pipeline (counts, smoothing, log-odds, prior, sums) in SQL,
    so any drift in the math hash-mismatches."""
    d = _docs(spark, sf_dir)
    labeled = d.withColumn("y", (F.length("text") > 400).cast("int"))
    w = txt.nb_train_hashed(labeled, "y")
    prior = txt.nb_prior(labeled, "y")
    scored = txt.nb_score_hashed(labeled, w, prior)
    return scored.select(
        "doc_id",
        F.round("score", 6).alias("score"),
        (F.col("score") > 0).cast("int").alias("pred"),
    )


def _pq_sql(m: int = 4, k: int = 8, iters: int = 2, d: int = 16,
            q_id: int = 42, topk: int = 10) -> str:
    """Unrolled per-subspace Lloyd's + encode + ADC as DuckDB CTEs —
    the oracle twin of ``operators/similarity.py:pq_train/pq_encode/
    pq_adc_topk`` (init = vec_id < k subvectors, empty codes keep their
    previous centroid, rounded-distance argmin with lowest-code ties,
    rounded-6 LUT, ADC rounded to 4)."""
    d2 = (
        "list_aggregate(list_transform(list_zip(sv.sv, b.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    parts = [
        f"subs AS (SELECT unnest(range({m})) AS sub)",
        "sv AS (SELECT e.vec_id, s.sub, "
        f"list_transform(e.embedding[s.sub * {d} + 1 : s.sub * {d} + {d}], "
        "x -> CAST(x AS DOUBLE)) AS sv FROM embeddings e CROSS JOIN subs s)",
        f"b0 AS (SELECT sub, vec_id AS code, sv AS c FROM sv "
        f"WHERE vec_id < {k})",
    ]
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT vec_id, sub, code FROM ("
            f"SELECT sv.vec_id, sv.sub, b.code, row_number() OVER ("
            f"PARTITION BY sv.vec_id, sv.sub "
            f"ORDER BY round({d2}, 6), b.code) AS rn "
            f"FROM sv JOIN b{i} b ON sv.sub = b.sub) WHERE rn = 1)"
        )
        parts.append(
            f"m{i + 1} AS (SELECT sub, code, list(mn ORDER BY idx) AS c "
            f"FROM (SELECT t.sub, t.code, t.idx, avg(t.x) AS mn FROM ("
            f"SELECT a.sub, a.code, "
            f"generate_subscripts(sv.sv, 1) AS idx, unnest(sv.sv) AS x "
            f"FROM a{i} a JOIN sv ON sv.vec_id = a.vec_id "
            f"AND sv.sub = a.sub) t GROUP BY t.sub, t.code, t.idx) "
            f"GROUP BY sub, code)"
        )
        parts.append(
            f"b{i + 1} AS (SELECT b.sub, b.code, coalesce(m.c, b.c) AS c "
            f"FROM b{i} b LEFT JOIN m{i + 1} m "
            f"ON b.sub = m.sub AND b.code = m.code)"
        )
    parts.append(
        f"enc AS (SELECT vec_id, sub, code FROM ("
        f"SELECT sv.vec_id, sv.sub, b.code, row_number() OVER ("
        f"PARTITION BY sv.vec_id, sv.sub "
        f"ORDER BY round({d2}, 6), b.code) AS rn "
        f"FROM sv JOIN b{iters} b ON sv.sub = b.sub) WHERE rn = 1)"
    )
    parts.append(
        f"lut AS (SELECT b.sub, b.code, round("
        "list_aggregate(list_transform(list_zip(q.sv, b.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6) AS dd "
        f"FROM b{iters} b JOIN "
        f"(SELECT sub, sv FROM sv WHERE vec_id = {q_id}) q "
        f"ON q.sub = b.sub)"
    )
    code_cols = ", ".join(
        f"CAST(MAX(CASE WHEN enc.sub = {s} THEN enc.code END) AS INTEGER)"
        f" AS code_{s}"
        for s in range(m)
    )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT CAST(enc.vec_id AS BIGINT) AS vec_id, {code_cols}, "
        f"round(SUM(l.dd), 4) AS adc "
        f"FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code "
        f"GROUP BY enc.vec_id ORDER BY adc, vec_id LIMIT {topk}"
    )


@register("pq_topk", oracle=_pq_sql(m=4, k=8, iters=2, d=16, q_id=42, topk=10))
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with Asymmetric Distance Computation
    (Jégou et al. 2011) — the compressed-domain scale path for 100 TB
    embedding corpora: per-subspace Lloyd's codebooks (m=4 subspaces,
    k=8 codes, 2 iterations, deterministic first-k init and
    rounded-argmin assignment), every vector encoded to 4 small ints,
    then query-vs-codebook LUT scoring with a fixed left-to-right add
    chain and an ordered LIMIT. The oracle replays the ENTIRE pipeline
    — train (unrolled CTE Lloyd's per subspace), encode, LUT, ADC
    top-10 — so a drifted codebook, a wrong subspace slice, a tiebreak
    flip, or a LUT off-by-one all hash-mismatch. First fully-oracled
    product quantizer in the registry."""
    emb = _t(spark, sf_dir, "embeddings")
    books = simi.pq_train(emb, m=4, k=8, iters=2)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 42)
        .select("embedding")
        .first()[0]
    ]
    return simi.pq_adc_topk(emb, books, q, topk=10)


def _ivfpq_sql(ncells: int = 4, coarse_iters: int = 1, m: int = 4,
               k: int = 8, pq_iters: int = 1, d: int = 16,
               q_id: int = 42, nprobe: int = 2, topk: int = 10) -> str:
    """Two-level unroll: coarse Lloyd's (the _kmeans_sql pattern) →
    residuals → per-subspace residual-PQ Lloyd's (the _pq_sql pattern)
    → probe selection → per-cell LUT → ADC top-k. Oracle twin of
    ``similarity.py:ivfpq_train/ivfpq_index/ivfpq_topk``."""
    cd2 = (
        "list_aggregate(list_transform(list_zip(e.embedding, c.c), "
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * "
        "(CAST(p[1] AS DOUBLE) - p[2])), 'sum')"
    )
    pd2 = (
        "list_aggregate(list_transform(list_zip(sv.sv, b.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    parts = [
        f"cc0 AS (SELECT vec_id AS cell, "
        f"list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c "
        f"FROM embeddings WHERE vec_id < {ncells})"
    ]
    for i in range(coarse_iters):
        parts.append(
            f"ca{i} AS (SELECT vec_id, cell FROM ("
            f"SELECT e.vec_id, c.cell, row_number() OVER ("
            f"PARTITION BY e.vec_id ORDER BY round({cd2}, 6), c.cell) AS rn "
            f"FROM embeddings e CROSS JOIN cc{i} c) WHERE rn = 1)"
        )
        parts.append(
            f"cm{i + 1} AS (SELECT cell, list(mn ORDER BY idx) AS c FROM ("
            f"SELECT t.cell, t.idx, avg(t.x) AS mn FROM ("
            f"SELECT a.cell, unnest(e.embedding) AS x, "
            f"generate_subscripts(e.embedding, 1) AS idx "
            f"FROM ca{i} a JOIN embeddings e ON a.vec_id = e.vec_id) t "
            f"GROUP BY t.cell, t.idx) GROUP BY cell)"
        )
        parts.append(
            f"cc{i + 1} AS (SELECT cc{i}.cell, "
            f"coalesce(cm{i + 1}.c, cc{i}.c) AS c "
            f"FROM cc{i} LEFT JOIN cm{i + 1} "
            f"ON cc{i}.cell = cm{i + 1}.cell)"
        )
    ci = coarse_iters
    parts.append(
        f"caf AS (SELECT vec_id, cell FROM ("
        f"SELECT e.vec_id, c.cell, row_number() OVER ("
        f"PARTITION BY e.vec_id ORDER BY round({cd2}, 6), c.cell) AS rn "
        f"FROM embeddings e CROSS JOIN cc{ci} c) WHERE rn = 1)"
    )
    parts.append(
        "res AS (SELECT e.vec_id, a.cell, "
        "list_transform(list_zip(e.embedding, c.c), "
        "p -> CAST(p[1] AS DOUBLE) - p[2]) AS rv "
        f"FROM embeddings e JOIN caf a ON e.vec_id = a.vec_id "
        f"JOIN cc{ci} c ON c.cell = a.cell)"
    )
    parts.append(f"subs AS (SELECT unnest(range({m})) AS sub)")
    parts.append(
        "sv AS (SELECT r.vec_id, r.cell, s.sub, "
        f"r.rv[s.sub * {d} + 1 : s.sub * {d} + {d}] AS sv "
        "FROM res r CROSS JOIN subs s)"
    )
    parts.append(
        f"b0 AS (SELECT sub, vec_id AS code, sv AS c FROM sv "
        f"WHERE vec_id < {k})"
    )
    for i in range(pq_iters):
        parts.append(
            f"a{i} AS (SELECT vec_id, sub, code FROM ("
            f"SELECT sv.vec_id, sv.sub, b.code, row_number() OVER ("
            f"PARTITION BY sv.vec_id, sv.sub "
            f"ORDER BY round({pd2}, 6), b.code) AS rn "
            f"FROM sv JOIN b{i} b ON sv.sub = b.sub) WHERE rn = 1)"
        )
        parts.append(
            f"m{i + 1} AS (SELECT sub, code, list(mn ORDER BY idx) AS c "
            f"FROM (SELECT t.sub, t.code, t.idx, avg(t.x) AS mn FROM ("
            f"SELECT a.sub, a.code, "
            f"generate_subscripts(sv.sv, 1) AS idx, unnest(sv.sv) AS x "
            f"FROM a{i} a JOIN sv ON sv.vec_id = a.vec_id "
            f"AND sv.sub = a.sub) t GROUP BY t.sub, t.code, t.idx) "
            f"GROUP BY sub, code)"
        )
        parts.append(
            f"b{i + 1} AS (SELECT b.sub, b.code, coalesce(m.c, b.c) AS c "
            f"FROM b{i} b LEFT JOIN m{i + 1} m "
            f"ON b.sub = m.sub AND b.code = m.code)"
        )
    bi = pq_iters
    parts.append(
        f"enc AS (SELECT vec_id, cell, sub, code FROM ("
        f"SELECT sv.vec_id, sv.cell, sv.sub, b.code, row_number() OVER ("
        f"PARTITION BY sv.vec_id, sv.sub "
        f"ORDER BY round({pd2}, 6), b.code) AS rn "
        f"FROM sv JOIN b{bi} b ON sv.sub = b.sub) WHERE rn = 1)"
    )
    parts.append(
        "q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        f"AS qe FROM embeddings WHERE vec_id = {q_id})"
    )
    qd2 = (
        "list_aggregate(list_transform(list_zip(q.qe, c.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    parts.append(
        f"probes AS (SELECT cell FROM (SELECT c.cell, row_number() OVER ("
        f"ORDER BY round({qd2}, 6), c.cell) AS rn "
        f"FROM cc{ci} c CROSS JOIN q) WHERE rn <= {nprobe})"
    )
    parts.append(
        "qres AS (SELECT pr.cell, s.sub, "
        "(list_transform(list_zip(q.qe, c.c), "
        f"p -> p[1] - p[2]))[s.sub * {d} + 1 : s.sub * {d} + {d}] AS qs "
        f"FROM probes pr JOIN cc{ci} c ON c.cell = pr.cell "
        "CROSS JOIN subs s CROSS JOIN q)"
    )
    parts.append(
        "lut AS (SELECT qr.cell, qr.sub, b.code, round("
        "list_aggregate(list_transform(list_zip(qr.qs, b.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6) AS dd "
        f"FROM qres qr JOIN b{bi} b ON b.sub = qr.sub)"
    )
    code_cols = ", ".join(
        f"CAST(MAX(CASE WHEN enc.sub = {s} THEN enc.code END) AS INTEGER)"
        f" AS code_{s}"
        for s in range(m)
    )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT CAST(enc.vec_id AS BIGINT) AS vec_id, "
        f"CAST(enc.cell AS INTEGER) AS cell, {code_cols}, "
        f"round(SUM(l.dd), 4) AS adc "
        f"FROM enc JOIN lut l ON l.cell = enc.cell "
        f"AND l.sub = enc.sub AND l.code = enc.code "
        f"GROUP BY enc.vec_id, enc.cell "
        f"ORDER BY adc, vec_id LIMIT {topk}"
    )


@register("ivfpq_topk", oracle=(
    _ivfpq_sql(
        ncells=4, coarse_iters=1, m=4, k=8, pq_iters=1, d=16,
        q_id=42, nprobe=2, topk=10,
    )
))
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS-style two-level billion-scale ANN index
    (coarse Lloyd's quantizer shards the corpus into cells; ONE product
    quantizer trained on the RESIDUALS v − centroid[cell] compresses
    each vector to m ints; queries probe the nprobe nearest cells and
    score with a per-cell residual LUT). The oracle replays BOTH
    levels end-to-end as CTEs — coarse train + assignment, residuals,
    residual-PQ train + encode, probe selection, per-cell LUT, ADC
    top-10 — making this the first fully-oracled two-level ANN index
    in the registry. Persisted partitionBy(cell), the probe filter is
    partition pruning: unprobed shards are never read."""
    emb = _t(spark, sf_dir, "embeddings")
    cents, books = simi.ivfpq_train(
        emb, ncells=4, coarse_iters=1, m=4, k=8, pq_iters=1
    )
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 42)
        .select("embedding")
        .first()[0]
    ]
    return simi.ivfpq_topk(emb, cents, books, q, nprobe=2, topk=10)


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs — the oracle twin of
    ``operators/similarity.py:kmeans`` (init = vec_id < k, empty cells
    keep their previous centroid, rounded-distance argmin with
    lowest-cell ties)."""
    d2 = (
        "list_aggregate(list_transform(list_zip(e.embedding, c.c), "
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
    )
    parts = [
        f"c0 AS (SELECT vec_id AS cell, "
        f"list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c "
        f"FROM embeddings WHERE vec_id < {k})"
    ]
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT vec_id, cell FROM ("
            f"SELECT e.vec_id, c.cell, row_number() OVER ("
            f"PARTITION BY e.vec_id ORDER BY round({d2}, 6), c.cell) AS rn "
            f"FROM embeddings e CROSS JOIN c{i} c) WHERE rn = 1)"
        )
        parts.append(
            f"m{i + 1} AS (SELECT cell, list(m ORDER BY idx) AS c FROM ("
            f"SELECT t.cell, t.idx, avg(t.x) AS m FROM ("
            f"SELECT a{i}.cell AS cell, unnest(e.embedding) AS x, "
            f"generate_subscripts(e.embedding, 1) AS idx "
            f"FROM a{i} JOIN embeddings e ON a{i}.vec_id = e.vec_id) t "
            f"GROUP BY t.cell, t.idx) GROUP BY cell)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c{i}.cell, coalesce(m{i + 1}.c, c{i}.c) "
            f"AS c FROM c{i} LEFT JOIN m{i + 1} ON c{i}.cell = m{i + 1}.cell)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM ("
        f"SELECT e.vec_id, c.cell, row_number() OVER ("
        f"PARTITION BY e.vec_id ORDER BY round({d2}, 6), c.cell) AS rn "
        f"FROM embeddings e CROSS JOIN c{iters} c) WHERE rn = 1"
    )


@register("kmeans_clusters", oracle=_kmeans_sql(k=8, iters=2))
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 2 update iterations) over the
    embeddings table — per iteration one broadcast-literal assignment
    pass (no shuffle) and one posexplode per-(cell, coordinate) mean
    (exactly k×dim rows to the driver). Assignment = argmin of squared
    L2 distance ROUNDED to 6 decimals with ties to the lowest cell —
    the cross-engine determinism contract; the oracle replays the same
    unrolled iterations as SQL CTEs, so a drifted mean, a wrong
    tiebreak, or an off-by-one in the update loop all hash-mismatch."""
    asg, _ = simi.kmeans(
        _t(spark, sf_dir, "embeddings"), k=8, iters=2
    )
    return asg


@register("dist_rank", oracle=(
    "SELECT c_custkey, c_mktsegment, "
    "round(percent_rank() OVER w, 6) AS pr, "
    "round(cume_dist() OVER w, 6) AS cd FROM customer "
    "WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)"
))
def q_dist_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions: percent_rank + cume_dist per
    market segment over account balance (standard tie semantics match
    ANSI engines exactly). Keyed window — parallelizes per segment."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register("set_ops_all", oracle="""
WITH a AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
b AS (SELECT o_custkey AS custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'),
u AS (
  SELECT custkey, 'except_all' AS tag FROM (SELECT * FROM a EXCEPT ALL
                                            SELECT * FROM b)
  UNION ALL
  SELECT custkey, 'intersect_all' AS tag FROM (SELECT * FROM a INTERSECT ALL
                                               SELECT * FROM b)
)
SELECT custkey, tag, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2
""")
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operators (EXCEPT ALL / INTERSECT ALL): duplicate-
    preserving bag semantics over two order-key bags, folded to
    (custkey, tag, cnt) so the duplicate counts themselves are what the
    oracle hash-checks."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    ex = a.exceptAll(b).withColumn("tag", F.lit("except_all"))
    inter = a.intersectAll(b).withColumn("tag", F.lit("intersect_all"))
    return (
        ex.unionByName(inter)
        .groupBy("custkey", "tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register("corr_agg", oracle=(
    "SELECT l_returnflag, "
    "round(corr(l_quantity, l_extendedprice), 6) AS corr_qp, "
    "round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp, "
    "CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1"
))
def q_corr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates per return flag: Pearson
    correlation and sample covariance of quantity vs extended price.
    Covariance rounds to 2 decimals (its magnitude is ~1e6; rounding at
    6 would sit inside cross-engine summation noise)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qp"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register("proximity_join", oracle=(
    "SELECT a.event_id AS l_event_id, b.event_id AS r_event_id, "
    "epoch_us(a.ts) - epoch_us(b.ts) AS delta_us "
    "FROM events a JOIN events b ON a.event_type = 'purchase' "
    "AND b.event_type = 'error' "
    "AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000"
))
def q_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large time-proximity join (purchase↔error pairs within
    ±5 min) via tolerance-width bucketize-and-verify: a plain equi-join
    on the bucket key instead of the nested-loop theta join Spark would
    otherwise be forced into. The oracle IS the brute-force inequality
    join."""
    ev = _ev(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts"
    )
    return tmp.proximity_join_binned(purchases, errors).select(
        "l_event_id", "r_event_id", "delta_us"
    )


@register("bm25_indexed", oracle=_BM25_SQL)
def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a PERSISTED inverted index (term-hash-bucket
    partitioned postings + doc lengths + corpus stats): identical
    results to the on-the-fly entry — same oracle — but the query-time
    read prunes to the query terms' bucket directories."""
    tmpdir = tempfile.mkdtemp(prefix="sg_bm25idx_")
    txt.build_inverted_index(_docs(spark, sf_dir), tmpdir)
    return txt.bm25_topk_indexed(
        spark, tmpdir, ["spark", "vector", "merge", "stream"], k=15
    )


@register("bm25_incremental", oracle=_BM25_SQL)
def q_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from an INCREMENTALLY MAINTAINED inverted index:
    the first half of the corpus is indexed, the second half appended
    via ``inverted_index_append`` (new postings into existing term
    buckets, stats refreshed from the doc-length table — O(batch)
    tokenize, never a corpus re-scan), then served. The oracle is the
    SAME full-corpus BM25 SQL — append-then-serve must equal
    index-everything-then-serve, which is what makes daily index
    maintenance trustworthy."""
    tmpdir = tempfile.mkdtemp(prefix="sg_bm25inc_")
    docs = _docs(spark, sf_dir)
    txt.build_inverted_index(docs.filter(F.col("doc_id") % 2 == 0), tmpdir)
    txt.inverted_index_append(
        spark, tmpdir, docs.filter(F.col("doc_id") % 2 == 1)
    )
    return txt.bm25_topk_indexed(
        spark, tmpdir, ["spark", "vector", "merge", "stream"], k=15
    )


@register("stream_index_append", oracle=_BM25_SQL)
def q_stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> incremental-index COMPOSITION (VERDICT r7 item 6):
    the corpus arrives as a checkpointed file stream (2 files, one
    micro-batch each via maxFilesPerTrigger=1 — two appends prove the
    increment composition; the restart pytest covers deeper batch
    chains without paying per-batch scheduling in the bench), every
    micro-batch
    maintained into the inverted index by O(batch)
    ``inverted_index_append`` calls inside foreachBatch, then BM25 is
    served from the result. The oracle is the SAME full-corpus BM25
    SQL as bm25_topk: stream-maintained index == index-everything —
    which, with the restart pytest, is the end-to-end O(batch)
    maintenance story (each half proven in r7; this is the
    composition)."""
    from from_superset_to_clickhouse_spark.streaming.ingest import (
        stream_index_append,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="sg_sidx_")
    src = base + "/src"
    docs.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = stream_index_append(
        stream, spark, base + "/index", base + "/ckpt"
    )
    q.awaitTermination()
    return txt.bm25_topk_indexed(
        spark, base + "/index", ["spark", "vector", "merge", "stream"], k=15
    )


@register("text_roundtrip", oracle="SELECT doc_id, text FROM documents")
def q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text corpus ingest proven by write→read_text round-trip:
    documents ship out as tab-prefixed lines and come back through the
    line-oriented text source (splittable, parallel per-line), with the
    id recovered from the line prefix."""
    from from_superset_to_clickhouse_spark.sources.readers import read_text

    d = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="sg_txt_") + "/docs_txt"
    (
        d.select(
            F.concat_ws(
                "\t", F.col("doc_id").cast("string"), F.col("text")
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(tmp)
    )
    raw = read_text(spark, tmp)
    parts = F.split(F.col("value"), "\t", 2)
    return raw.select(
        F.element_at(parts, 1).cast("long").alias("doc_id"),
        F.element_at(parts, 2).alias("text"),
    )


@register("binary_ingest", oracle=(
    "SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format, "
    "CAST(doc_id % 64 + 1 AS INTEGER) AS width, "
    "CAST(doc_id % 48 + 1 AS INTEGER) AS height "
    "FROM documents WHERE doc_id < 120"
))
def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal drop-zone ingest via the ``binaryFile`` source: one
    REAL PNG file per document id written executor-side (the object-
    store landing pattern; local FS here), listed back with a glob
    filter, id recovered from the filename, dimensions earned by
    parsing the actual container bytes. The oracle predicts the planted
    dims arithmetically — any path-parse or codec bug hash-mismatches."""
    from from_superset_to_clickhouse_spark.operators.multimodal import (
        encode_png,
    )
    from from_superset_to_clickhouse_spark.sources.readers import read_binary

    tmp = tempfile.mkdtemp(prefix="sg_bin_")
    ids = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 120)

    def write_part(rows):
        for r in rows:
            i = int(r["doc_id"])
            with open(f"{tmp}/{i}.png", "wb") as f:
                f.write(encode_png(i % 64 + 1, i % 48 + 1))

    ids.foreachPartition(write_part)
    bdf = read_binary(spark, tmp, glob="*.png")
    parsed = bdf.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.png$", 1)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("payload"),
    )
    return mm.image_dims(parsed)


@register("rolling_range", oracle=(
    "SELECT event_id, user_id, "
    "CAST(count(*) OVER w AS BIGINT) AS n_1h, "
    "round(sum(value) OVER w, 6) AS sum_1h FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)"
))
def q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (trailing 1 h per user): event count and
    value sum over a microsecond-exact range frame — the time-based
    twin of the ROWS frame in ``window_frame``. Partitioned by user, so
    the window parallelizes on the key; no global sort."""
    ev = _ev(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-(3_600_000_000 - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 6).alias("sum_1h"),
    )


_ANOMALY_SQL = r"""
SELECT event_id, user_id,
  CAST(count(*) OVER w AS BIGINT) AS baseline_n,
  round(avg(value) OVER w, 6) AS baseline_mean,
  round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6) AS z,
  CAST(CASE WHEN count(*) OVER w >= 5
            AND stddev_samp(value) OVER w IS NOT NULL
            AND abs((value - avg(value) OVER w)
                    / stddev_samp(value) OVER w) > 3
       THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM (SELECT *, epoch_us(ts) AS us FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3599999999 PRECEDING AND 1 PRECEDING)
"""


@register("anomaly_zscore", oracle=_ANOMALY_SQL)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric anomaly detection: per user, each event's value against
    the TRAILING-hour baseline (mean/stddev over a time-RANGE frame
    that EXCLUDES the current row — a spike must not dilute its own
    baseline). Flag = |z| > 3 with a minimum baseline of 5 events;
    keyed window, parallel per user, no global sort."""
    ev = _ev(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-(3_600_000_000 - 1), -1)
    )
    n = F.count(F.lit(1)).over(w)
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sd
    return ev.select(
        "event_id",
        "user_id",
        n.alias("baseline_n"),
        F.round(mu, 6).alias("baseline_mean"),
        F.round(z, 6).alias("z"),
        F.when(
            (n >= 5) & sd.isNotNull() & (F.abs(z) > 3), 1
        )
        .otherwise(0)
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# ClickHouse-style SQL extensions, graph cores, robust statistics, audio /
# image codecs, feature encoding and retrieval evaluation.
# ---------------------------------------------------------------------------

@register("limit_by", oracle="""
-- LIMIT 2 BY o_custkey replay: the window order (price desc, then
-- orderkey) is total, so ROW_NUMBER selects the same rows on both
-- engines.
WITH r AS (
  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice,
    row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, totalprice FROM r WHERE rn <= 2
""")
def q_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``LIMIT 2 BY o_custkey``: each customer's two most
    expensive orders, ordered by (price desc, orderkey) — a total
    order, so the selection is deterministic. One keyed row_number
    window (hash shuffle on the group key, no global sort); the
    oracle replays it with ROW_NUMBER in DuckDB."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        limit_by,
    )

    orders = _t(spark, sf_dir, "orders")
    top = limit_by(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        n=2,
    )
    return top.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@register("with_totals", oracle="""
-- WITH TOTALS = GROUPING SETS ((g), ()): the GROUPING() flag is the
-- is_totals marker; Spark's rollup+grouping_id filter computes the
-- identical two levels in one pass.
SELECT o_orderpriority,
  count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS revenue,
  (GROUPING(o_orderpriority) = 1) AS is_totals
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), ())
""")
def q_with_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY o_orderpriority WITH TOTALS`` over orders: per-
    priority order count + revenue, plus the grand-total row, from
    ONE rollup pass (grouping-id filter) instead of two scans. The
    oracle is DuckDB GROUPING SETS ((o_orderpriority), ()) with the
    GROUPING() flag reproducing ``is_totals``."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        with_totals,
    )

    orders = _t(spark, sf_dir, "orders")
    out = with_totals(
        orders,
        ["o_orderpriority"],
        {
            "n_orders": F.count(F.lit(1)),
            "revenue": F.round(F.sum("o_totalprice"), 2),
        },
    )
    return out.select("o_orderpriority", "n_orders", "revenue", "is_totals")


@register("argminmax", oracle="""
-- argMax/argMin via named-struct extremes: field order (value, arg)
-- makes the comparison lexicographic with c_custkey as the tiebreak,
-- exactly mirroring Spark's struct max/min.
SELECT c_nationkey,
  (max({'v': round(c_acctbal, 2), 'a': c_custkey})).a AS richest_cust,
  (min({'v': round(c_acctbal, 2), 'a': c_custkey})).a AS poorest_cust,
  round(max(c_acctbal), 2) AS max_bal,
  round(min(c_acctbal), 2) AS min_bal
FROM customer GROUP BY c_nationkey
""")
def q_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``argMax``/``argMin`` per nation: the customer key
    holding the max / min account balance, with c_custkey as the
    deterministic tiebreak (struct-lexicographic max — a plain
    codegen aggregate, map-side combinable). The oracle uses DuckDB's
    named-struct max/min with the same field order, so ties resolve
    identically on both engines."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        arg_max_expr,
        arg_min_expr,
    )

    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            arg_max_expr(
                F.col("c_custkey"), F.round("c_acctbal", 2)
            ).alias("richest_cust"),
            arg_min_expr(
                F.col("c_custkey"), F.round("c_acctbal", 2)
            ).alias("poorest_cust"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
    )


def _kcore_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic skewed test graph: a sparse ~degree-4 periphery
    on nodes doc_id%300 plus a dense 20-node grid core (pairs
    (doc_id%20, doc_id//20%20)) that only the first 400 docs feed —
    peels in 6 rounds at k=4 down to the K20 core."""
    d = _docs(spark, sf_dir).select("doc_id")
    periph = d.select(
        (F.col("doc_id") % 300).alias("src"),
        ((F.col("doc_id") * 11 + 1) % 300).alias("dst"),
    ).unionByName(
        d.select(
            (F.col("doc_id") % 300).alias("src"),
            ((F.col("doc_id") * 17 + 2) % 300).alias("dst"),
        )
    )
    core = d.filter(F.col("doc_id") < 400).select(
        (F.col("doc_id") % 20).alias("src"),
        (F.floor(F.col("doc_id") / 20) % 20).alias("dst"),
    )
    return periph.unionByName(core)


@register("kcore", oracle="""
-- Peel unrolled as CTEs: 8 rounds >= the fixture's 6-round cascade,
-- so the final edge set is at fixpoint exactly like the Spark loop.
WITH d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 300 AS s, (doc_id * 11 + 1) % 300 AS t FROM d
  UNION ALL
  SELECT doc_id % 300, (doc_id * 17 + 2) % 300 FROM d
  UNION ALL
  SELECT doc_id % 20, (doc_id // 20) % 20 FROM d WHERE doc_id < 400
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM raw
  WHERE least(s, t) < greatest(s, t)
),
d0 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE a IN (SELECT n FROM d0 WHERE deg >= 4) AND b IN (SELECT n FROM d0 WHERE deg >= 4)),
d1 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY n),
e2 AS MATERIALIZED (SELECT a, b FROM e1 WHERE a IN (SELECT n FROM d1 WHERE deg >= 4) AND b IN (SELECT n FROM d1 WHERE deg >= 4)),
d2 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY n),
e3 AS MATERIALIZED (SELECT a, b FROM e2 WHERE a IN (SELECT n FROM d2 WHERE deg >= 4) AND b IN (SELECT n FROM d2 WHERE deg >= 4)),
d3 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3) GROUP BY n),
e4 AS MATERIALIZED (SELECT a, b FROM e3 WHERE a IN (SELECT n FROM d3 WHERE deg >= 4) AND b IN (SELECT n FROM d3 WHERE deg >= 4)),
d4 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4) GROUP BY n),
e5 AS MATERIALIZED (SELECT a, b FROM e4 WHERE a IN (SELECT n FROM d4 WHERE deg >= 4) AND b IN (SELECT n FROM d4 WHERE deg >= 4)),
d5 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e5 UNION ALL SELECT b FROM e5) GROUP BY n),
e6 AS MATERIALIZED (SELECT a, b FROM e5 WHERE a IN (SELECT n FROM d5 WHERE deg >= 4) AND b IN (SELECT n FROM d5 WHERE deg >= 4)),
d6 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e6 UNION ALL SELECT b FROM e6) GROUP BY n),
e7 AS MATERIALIZED (SELECT a, b FROM e6 WHERE a IN (SELECT n FROM d6 WHERE deg >= 4) AND b IN (SELECT n FROM d6 WHERE deg >= 4)),
d7 AS MATERIALIZED (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM e7 UNION ALL SELECT b FROM e7) GROUP BY n),
e8 AS MATERIALIZED (SELECT a, b FROM e7 WHERE a IN (SELECT n FROM d7 WHERE deg >= 4) AND b IN (SELECT n FROM d7 WHERE deg >= 4))
SELECT n AS node, count(*) AS core_degree
FROM (SELECT a AS n FROM e8 UNION ALL SELECT b FROM e8) GROUP BY n
""")
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the skewed test graph: iterative peeling — degree
    aggregation + edge semi-join per round, lineage flattened by
    localCheckpoint, convergence probed with limit(1).count(). The
    fixture cascades through 6 peel rounds (each removal drops
    neighbors below threshold) before stabilizing on the dense
    20-node core. The oracle unrolls 8 peel rounds as CTEs — more
    than the fixture needs, so both sides are at fixpoint."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    return gr.kcore(_kcore_edges(spark, sf_dir), k=4)


@register("clustering_coeff", oracle="""
-- Identical relational program: canonical edges, a<b<c triangle
-- listing, 3-corner unnest credit, left join onto degrees.
WITH d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 300 AS s, (doc_id * 11 + 1) % 300 AS t FROM d
  UNION ALL
  SELECT doc_id % 300, (doc_id * 17 + 2) % 300 FROM d
  UNION ALL
  SELECT doc_id % 20, (doc_id // 20) % 20 FROM d WHERE doc_id < 400
),
e0 AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM raw
  WHERE least(s, t) < greatest(s, t)
),
deg AS (
  SELECT n AS node, count(*) AS degree
  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e0 e1
  JOIN e0 e2 ON e1.b = e2.a
  JOIN e0 e3 ON e1.a = e3.a AND e2.b = e3.b
),
tcnt AS (
  SELECT node, count(*) AS n_tri
  FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node
)
SELECT deg.node, deg.degree, coalesce(t.n_tri, 0) AS n_tri,
  CASE WHEN deg.degree >= 2
    THEN round(2.0 * coalesce(t.n_tri, 0) / (deg.degree * (deg.degree - 1)), 6)
    ELSE 0.0 END AS coeff
FROM deg LEFT JOIN tcnt t ON deg.node = t.node
""")
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the skewed test graph:
    triangle listing via the a<b<c node-iterator joins, per-corner
    credit through a 3-element explode, joined against degrees —
    coeff = 2T/(d(d−1)), 6-dp rounded. The dense grid core scores
    near 1, the arithmetic periphery near 0; the oracle replays the
    identical relational program."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    return gr.clustering_coefficient(_kcore_edges(spark, sf_dir))


@register("mad_outliers", oracle="""
-- Same two median passes: DuckDB's median interpolates the 0.5
-- percentile exactly like Spark's median, so center/mad agree
-- bit-for-bit on the same doubles.
WITH src AS (
  SELECT event_type,
    value + CASE WHEN event_id % 97 = 0 THEN 5000.0 ELSE 0.0 END AS value
  FROM events
), med AS (
  SELECT event_type, median(value) AS m FROM src GROUP BY event_type
), mad AS (
  SELECT s.event_type, median(abs(s.value - med.m)) AS d
  FROM src s JOIN med USING (event_type) GROUP BY s.event_type
)
SELECT s.event_type, s.value, round(m.m, 6) AS center,
  round(d.d, 6) AS mad,
  CASE WHEN d.d > 0
    THEN round((s.value - m.m) / (1.4826 * d.d), 6) END AS rz,
  coalesce(abs(CASE WHEN d.d > 0
    THEN round((s.value - m.m) / (1.4826 * d.d), 6) END) > 3.0,
    false) AS is_outlier
FROM src s JOIN med m USING (event_type) JOIN mad d ON s.event_type = d.event_type
""")
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier scoring per event type with planted spikes
    (value + 5000 on every 97th event id — SQL-replayable): two exact
    interpolated-median aggregation passes joined back, rz =
    (x − med) / (1.4826·MAD), |rz| > 3 flags exactly the planted
    rows. A mean/σ z-score would have its spread inflated by the
    spikes themselves; the median pair is immune (50% breakdown)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mad_outliers,
    )

    ev = _ev(spark, sf_dir).select(
        "event_type",
        (
            F.col("value")
            + F.when(F.col("event_id") % 97 == 0, F.lit(5000.0)).otherwise(
                F.lit(0.0)
            )
        ).alias("value"),
    )
    return mad_outliers(ev, "value", ["event_type"], threshold=3.0)


@register("cusum", oracle="""
-- Closed-form CUSUM replay: prefix sum minus running min per keyed
-- window order; time_bucket aligns with Spark's window() day buckets.
WITH src AS (
  SELECT event_type, ts,
    value + CASE WHEN event_type = 'click' AND ts >= TIMESTAMP '2024-01-20'
      THEN 300.0 ELSE 0.0 END AS value
  FROM events
), b AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    avg(value) AS xbar
  FROM src GROUP BY 1, 2
), st AS (
  SELECT key, avg(xbar) AS mu, stddev_samp(xbar) AS sigma FROM b GROUP BY key
), z AS (
  SELECT b.key, bucket_ts, xbar,
    CASE WHEN sigma > 0 THEN (xbar - mu) / sigma ELSE 0.0 END AS zv
  FROM b JOIN st USING (key)
), p AS (
  SELECT key, bucket_ts, xbar,
    sum(zv - 0.5) OVER (PARTITION BY key ORDER BY bucket_ts) AS ph,
    sum(-zv - 0.5) OVER (PARTITION BY key ORDER BY bucket_ts) AS pl
  FROM z
), s AS (
  SELECT key, bucket_ts, round(xbar, 6) AS xbar,
    round(ph - least(0.0, min(ph) OVER (PARTITION BY key ORDER BY bucket_ts)), 6) AS s_hi,
    round(pl - least(0.0, min(pl) OVER (PARTITION BY key ORDER BY bucket_ts)), 6) AS s_lo
  FROM p
)
SELECT key, bucket_ts, xbar, s_hi, s_lo,
  (s_hi > 4.0 OR s_lo > 4.0) AS signal
FROM s
""")
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift chart over daily bucket means per event
    type, with a planted +300 level shift on 'click' from Jan 20 —
    the upper chart must cross h=4σ after the shift and stay quiet
    elsewhere. The recursion is compiled to its closed form (prefix
    sum minus running min) — two fused keyed window passes over a
    periods×keys-bounded series, no recursion, no collected arrays."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        cusum_changepoints,
    )

    ev = _ev(spark, sf_dir).select(
        "event_type",
        "ts",
        (
            F.col("value")
            + F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.lit("2024-01-20").cast("timestamp")),
                F.lit(300.0),
            ).otherwise(F.lit(0.0))
        ).alias("value"),
    )
    return cusum_changepoints(
        ev, "event_type", "ts", "value", bucket="1 day", kappa=0.5, h=4.0
    )


@register("rake_keywords", oracle="""
-- Identical RAKE program: 1-based positional unnest, stopword-count
-- run ids via window cumsum, ordered string_agg phrases, deg/freq
-- word pricing, top-5 by the same (rounded score, phrase) total
-- order.
WITH tok AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), flat0 AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t FROM tok
), flat AS (
  SELECT doc_id, pos, t[pos] AS w,
    t[pos] IN ('a','an','the','and','or','of','to','in','on','for',
               'is','are','was','be','with','as','at','by','it',
               'this','that','from','but','not') AS is_stop
  FROM flat0
), runs AS (
  SELECT doc_id, pos, w, is_stop,
    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS pid
  FROM flat
), nw AS (
  SELECT doc_id, pos, w, pid FROM runs WHERE NOT is_stop
), ph AS (
  SELECT doc_id, pid, count(*) AS plen,
    string_agg(w, ' ' ORDER BY pos) AS phrase
  FROM nw GROUP BY doc_id, pid HAVING count(*) <= 8
), occ AS (
  SELECT nw.doc_id, nw.w, nw.pid, ph.plen
  FROM nw JOIN ph ON nw.doc_id = ph.doc_id AND nw.pid = ph.pid
), wstat AS (
  SELECT doc_id, w, count(*) AS freq, sum(plen) AS deg
  FROM occ GROUP BY doc_id, w
), ps AS (
  SELECT o.doc_id, o.pid,
    round(sum(CAST(s.deg AS DOUBLE) / s.freq), 6) AS score
  FROM occ o JOIN wstat s ON o.doc_id = s.doc_id AND o.w = s.w
  GROUP BY o.doc_id, o.pid
), cand AS (
  SELECT DISTINCT ps.doc_id, ph.phrase, ph.plen AS n_words, ps.score
  FROM ps JOIN ph ON ps.doc_id = ph.doc_id AND ps.pid = ph.pid
), ranked AS (
  SELECT doc_id, phrase, n_words, score,
    row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, phrase
    ) AS rn
  FROM cand
)
SELECT doc_id, phrase, n_words, score FROM ranked WHERE rn <= 5
""")
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the documents corpus: stopword-
    delimited candidate runs, deg/freq word scores within each doc,
    top-5 phrases per doc by (rounded score desc, phrase) — a total
    order, so selection is engine-stable. All keyed by doc_id: one
    window cumsum assigns run ids, two keyed aggs build phrase/word
    stats, one (doc, word) join prices occurrences."""
    from from_superset_to_clickhouse_spark.operators.text import (
        rake_keywords,
    )

    return rake_keywords(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id", "text",
        top_k=5, max_phrase_len=8,
    )


@register("g711_audio", oracle="""
-- Closed-form mu-law contract: the amplitude is the exactly-
-- representable A(s, m) = 4*(((2m+33)*2^s)-33) with s = id%8,
-- m = id%15+1; square-wave statistics as in audio_features.
SELECT CAST(doc_id AS BIGINT) AS media_id,
  CAST(2 * (doc_id % 4 + 1) * (doc_id % 50 + 10) AS INTEGER) AS n_frames,
  CAST(4 * (((2 * (doc_id % 15 + 1) + 33) * power(2, doc_id % 8)) - 33)
    AS INTEGER) AS peak,
  CAST(4 * (((2 * (doc_id % 15 + 1) + 33) * power(2, doc_id % 8)) - 33)
    AS DOUBLE) AS rms,
  CAST(0 AS DOUBLE) AS mean_sample,
  CAST(2 * (doc_id % 50 + 10) - 1 AS INTEGER) AS zero_crossings
FROM documents
""")
def q_g711_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 mu-law decode: companded square-wave WAVs (format
    tag 7, 8-bit) whose amplitudes come from the mu-law representable
    set A = 4·(((2m+33)·2^s)−33), s = id%8, m = id%15+1 — so the
    expansion curve must reproduce them bit-exactly and the PCM
    closed forms carry over (n_frames = 2PK, peak = rms = A, mean =
    0, crossings = 2K−1). A lookup-table shortcut with a wrong
    segment/mantissa layout shifts every amplitude and mismatches."""
    tones = mm.synthesize_g711_tones(_docs(spark, sf_dir), "doc_id", law="mu")
    return mm.audio_features_g711(tones)


@register("png_interlaced", oracle="""
-- Planted-pixel enumeration for the Adam7 fixture: byte index of
-- gray pixel (x, y) is y*w + x, so pos_sum is the scatter-order-
-- sensitive checksum; px_sum/min/max are order-blind multiset twins.
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 9 + 1 AS h FROM documents
), xs AS (
  SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
), px AS (
  SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
), v AS (
  SELECT doc_id, w, h, y * w + x AS p,
    (doc_id + 5 * x + 7 * y) % 256 AS val
  FROM px
)
SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format,
  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS channels, CAST(count(*) AS INTEGER) AS n_px,
  CAST(sum(val) AS BIGINT) AS px_sum,
  CAST(min(val) AS INTEGER) AS min_px, CAST(max(val) AS INTEGER) AS max_px,
  CAST(sum(p * val) AS BIGINT) AS pos_sum
FROM v GROUP BY doc_id
""")
def q_png_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Adam7 deinterlace: one interlaced grayscale PNG per doc
    (dims id%13+1 × id%9+1 — small enough to leave whole passes
    empty — pixel (x,y) = (id+5x+7y)%256, per-id filter type id%5
    exercising every unfilter path against pass-local priors). The
    decoder walks 7 independently-filtered sub-images and scatters
    them by the published pattern; the oracle enumerates the planted
    pixels arithmetically, and pos_sum is scatter-order sensitive, so
    a wrong pass origin/step or shared-prior bug mismatches while
    px_sum still agrees. Closes the last PNG quarantine gap."""
    imgs = mm.synthesize_adam7_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px", "pos_sum",
    )


@register("pmi_pairs", oracle="""
-- Same probability arithmetic: windowed positional self-join,
-- canonical unordered pooling, support filter, ln of the rational
-- probability ratio rounded to 6 dp.
WITH tok AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), flat AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t FROM tok
), f AS (
  SELECT doc_id, pos, t[pos] AS w FROM flat
), pr AS (
  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
  FROM f a JOIN f b
    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
), pairs_all AS (
  SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY w1, w2
), tots AS (
  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM f) AS t,
         (SELECT CAST(sum(n_pair) AS DOUBLE) FROM pairs_all) AS p
), wc AS (
  SELECT w, count(*) AS c FROM f GROUP BY w
)
SELECT pa.w1, pa.w2, pa.n_pair,
  round(ln((pa.n_pair / tots.p)
           / ((c1.c / tots.t) * (c2.c / tots.t))), 6) AS pmi
FROM pairs_all pa, tots
JOIN wc c1 ON pa.w1 = c1.w
JOIN wc c2 ON pa.w2 = c2.w
WHERE pa.n_pair >= 20
""")
def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over the documents corpus: PMI of word
    pairs co-occurring within a 2-token window, support ≥ 20. One
    token explode, one positional self-join keyed on doc_id (fan-out
    tokens × window, never n²), canonical unordered pooling, scalar
    totals broadcast. The oracle replays the identical probability
    arithmetic in DuckDB."""
    from from_superset_to_clickhouse_spark.operators.text import pmi_pairs

    return pmi_pairs(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id", "text",
        window=2, min_count=20,
    )


@register("soundex_keys", oracle="""
-- Operation-for-operation Soundex replay: strip/upper, tail H/W
-- deletion, digit/separator translate, adjacent-duplicate collapse
-- (per-symbol run collapses - RE2 has no backreferences), separator
-- strip, first-code drop, pad.
WITH words AS (
  SELECT unnest(string_split(p_name, ' ')) AS word FROM part
), s1 AS (
  SELECT word,
    upper(regexp_replace(word, '[^A-Za-z]', '', 'g')) AS up
  FROM words
), s2 AS (
  SELECT word, up, substr(up, 1, 1) AS first,
    substr(up, 1, 1) || regexp_replace(substr(up, 2), '[HW]', '', 'g')
      AS dehw
  FROM s1
), s3 AS (
  SELECT word, up, first,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(
        translate(dehw, 'BFPVCGJKQSXZDTLMNRAEIOUYHW',
                        '111122222222334556AAAAAAAA'),
        '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'),
        '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g'),
        'A+', 'A', 'g') AS collapsed,
    translate(first, 'BFPVCGJKQSXZDTLMNRAEIOUYHW',
                     '111122222222334556AAAAAAAA') AS fc
  FROM s2
), s4 AS (
  SELECT word, up, first, fc, replace(collapsed, 'A', '') AS digits
  FROM s3
), coded AS (
  SELECT word,
    CASE WHEN length(up) > 0 THEN
      first || rpad(substr(
        CASE WHEN fc = 'A' THEN digits ELSE substr(digits, 2) END,
        1, 3), 3, '0')
    END AS code
  FROM s4
)
SELECT code, count(*) AS n_words,
  count(DISTINCT word) AS n_distinct, min(word) AS sample_word
FROM coded GROUP BY code
""")
def q_soundex_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """American Soundex phonetic keys over the part-name vocabulary —
    the classic fuzzy-blocking primitive for entity resolution. The
    encoder is a pure Catalyst chain implementing the published rules
    (H/W deletion = the separated-same-codes collapse rule, vowel
    separators, first-letter code participation), NOT an engine
    builtin, so the DuckDB oracle replays it operation for
    operation. Output: per phonetic code, word count, distinct
    vocabulary, and the lexicographically first word."""
    from from_superset_to_clickhouse_spark.operators.text import (
        soundex_expr,
    )

    words = _t(spark, sf_dir, "part").select(
        F.explode(F.split(F.col("p_name"), " ")).alias("word")
    )
    return (
        words.select(soundex_expr(F.col("word")).alias("code"), "word")
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.countDistinct("word").alias("n_distinct"),
            F.min("word").alias("sample_word"),
        )
    )


@register("target_encode", oracle="""
-- Same LOO arithmetic on the joined aggregates: (sum_c - y + s*mu)
-- / (n_c - 1 + s); singleton categories collapse to the prior.
WITH agg AS (
  SELECT o_custkey, sum(o_totalprice) AS s, count(*) AS n
  FROM orders GROUP BY o_custkey
), mu AS (SELECT avg(o_totalprice) AS m FROM orders)
SELECT o.o_custkey, o.o_totalprice,
  round((agg.s - o.o_totalprice + 20.0 * mu.m) / (agg.n - 1 + 20.0), 6)
    AS encoded
FROM orders o JOIN agg USING (o_custkey), mu
""")
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of o_custkey against order
    price (smoothing 20): each order sees the mean price of the
    customer's OTHER orders shrunk toward the global mean — the
    leakage-free high-cardinality categorical feature. One category
    agg + one scalar mean joined back; singletons collapse to the
    prior, which the high-cardinality customer key exercises for
    real. The oracle replays the arithmetic on the joined
    aggregates."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        target_encode_loo,
    )

    return target_encode_loo(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_totalprice",
        smoothing=20.0,
    )


@register("feature_hash", oracle="""
-- Identical md5 bucket and sign hashes; weights that cancel to zero
-- are dropped on both sides.
WITH tok AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), flat AS (
  SELECT doc_id, unnest(t) AS w FROM tok
), hashed AS (
  SELECT doc_id,
    CAST(CAST(('0x' || substr(md5('fh:' || w), 1, 8)) AS BIGINT) % 64
      AS INTEGER) AS bucket,
    CASE WHEN CAST(('0x' || substr(md5('fs:' || w), 1, 8)) AS BIGINT) % 2 = 0
      THEN 1 ELSE -1 END AS sgn
  FROM flat
)
SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS weight
FROM hashed GROUP BY doc_id, bucket HAVING sum(sgn) <> 0
""")
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization of the documents corpus into 64
    buckets with the ±1 sign hash — fixed dimensionality, zero
    vocabulary state. Both hashes are md5-derived so DuckDB rebuilds
    the identical sparse vectors; zero-weight cells (sign
    cancellation) are dropped on both sides."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        feature_hash,
    )

    return feature_hash(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id", "text",
        n_buckets=64,
    )


@register("exif_meta", oracle="""
-- Planted-metadata enumeration: the parser must recover exactly
-- these id-arithmetic fields through real marker/IFD walking in
-- both byte orders.
SELECT CAST(doc_id AS BIGINT) AS media_id,
  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
  CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
  'maker' || CAST(doc_id % 7 AS VARCHAR) AS make,
  'cam' || CAST(doc_id % 11 AS VARCHAR) AS model,
  '2024:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' '
    || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':'
    || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':00' AS taken_at
FROM documents
""")
def q_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EXIF/TIFF parse: JPEGs carrying APP1 IFD0 blocks with
    planted id-arithmetic metadata, half little-endian (II) and half
    big-endian (MM) so the byte-order dispatch is exercised on every
    batch. The parser walks JPEG markers, validates the TIFF magic,
    and resolves inline SHORT vs offset-addressed ASCII values; the
    oracle enumerates the planted fields arithmetically. Metadata
    parse touches only leading bytes — row-count-bounded at 100 TB."""
    imgs = mm.synthesize_exif_images(_docs(spark, sf_dir), "doc_id")
    return mm.exif_metadata(imgs)


@register("holt_trend", oracle="""
-- Bit-identical Holt fold: same bucket means, same expanded l'/b'
-- arithmetic with binary-exact 0.5/0.25 constants, folded in the
-- same ascending bucket order via list_reduce.
WITH src AS (
  SELECT event_type, ts,
    value + CASE WHEN event_type = 'view'
      THEN 10.0 * (date_part('day', ts) - 1) ELSE 0.0 END AS value
  FROM events
), b AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    avg(value) AS xbar
  FROM src GROUP BY 1, 2
), s AS (
  SELECT key, list(xbar ORDER BY bucket_ts) AS xs FROM b GROUP BY key
), f AS (
  -- accumulator is a 2-list [level, trend]: DuckDB evaluates struct
  -- fields sequentially (a later field would see the UPDATED level),
  -- while list construction reads the original acc — which is the
  -- fold semantics the Spark side uses
  SELECT key, len(xs) AS n,
    list_reduce(
      list_transform(xs, x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
      (acc, e) -> [
        0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
        0.25 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
          + 0.75 * acc[2]
      ]) AS st
  FROM s
)
SELECT key, CAST(n AS INTEGER) AS n_buckets,
  round(st[1], 6) AS level, round(st[2], 6) AS trend,
  round(st[1] + 7 * st[2], 6) AS forecast
FROM f
""")
def q_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing over daily bucket means per event
    type, with a planted +10/day drift on 'view' that the trend
    component must recover. The sequential recursion runs as one
    codegen higher-order fold per key (series bounded at periods ×
    keys); the oracle replays the bit-identical expansion through
    DuckDB's list_reduce. Binary-exact α=0.5, β=0.25."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        holt_forecast,
    )

    ev = _ev(spark, sf_dir).select(
        "event_type",
        "ts",
        (
            F.col("value")
            + F.when(
                F.col("event_type") == "view",
                10.0 * (F.dayofmonth("ts") - 1),
            ).otherwise(F.lit(0.0))
        ).alias("value"),
    )
    return holt_forecast(
        ev, "event_type", "ts", "value", bucket="1 day",
        alpha=0.5, beta=0.25, horizon=7,
    )


@register("phonetic_link", oracle="""
-- Same two-stage linkage: the Soundex CTE is the soundex_keys
-- replay applied to full part names, the verify stage is exact
-- Levenshtein at distance 1-2 with a<b canonicalization.
WITH names AS (
  SELECT min(p_partkey) AS id, p_name AS name FROM part GROUP BY p_name
), ents AS (
  SELECT id, name FROM names
  UNION ALL
  SELECT id + 1000000 AS id, name || 's' AS name
  FROM names WHERE id % 3 = 0
), s1 AS (
  SELECT id, name,
    upper(regexp_replace(name, '[^A-Za-z]', '', 'g')) AS up
  FROM ents
), s2 AS (
  SELECT id, name, up, substr(up, 1, 1) AS first,
    substr(up, 1, 1) || regexp_replace(substr(up, 2), '[HW]', '', 'g')
      AS dehw
  FROM s1
), s3 AS (
  SELECT id, name, up, first,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(
        translate(dehw, 'BFPVCGJKQSXZDTLMNRAEIOUYHW',
                        '111122222222334556AAAAAAAA'),
        '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'),
        '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g'),
        'A+', 'A', 'g') AS collapsed,
    translate(first, 'BFPVCGJKQSXZDTLMNRAEIOUYHW',
                     '111122222222334556AAAAAAAA') AS fc
  FROM s2
), s4 AS (
  SELECT id, name, up, first, fc, replace(collapsed, 'A', '') AS digits
  FROM s3
), coded AS (
  SELECT id, name,
    CASE WHEN length(up) > 0 THEN
      first || rpad(substr(
        CASE WHEN fc = 'A' THEN digits ELSE substr(digits, 2) END,
        1, 3), 3, '0')
    END AS code
  FROM s4
)
SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
  a.code AS code, levenshtein(a.name, b.name) AS edit_dist
FROM coded a JOIN coded b ON a.code = b.code AND a.id < b.id
WHERE a.code IS NOT NULL
  AND levenshtein(a.name, b.name) BETWEEN 1 AND 2
""")
def q_phonetic_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidates over the part-name vocabulary
    plus planted typo twins (name+'s' for every id%3==0 name — an
    appended same-code letter keeps the phonetic block intact):
    Soundex blocking (vocabulary-bounded Σ|block|² fan-out, never
    corpus n²) then exact Levenshtein verification at distance 1-2 —
    the classic cheap-recall/expensive-verify two-stage linkage. The
    oracle replays the blocking code SQL-for-SQL; DuckDB's
    levenshtein agrees with Spark's on exact edit distance."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        phonetic_blocked_pairs,
    )

    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("id"))
        .select("id", F.col("p_name").alias("name"))
    )
    twins = names.filter(F.col("id") % 3 == 0).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.concat(F.col("name"), F.lit("s")).alias("name"),
    )
    return phonetic_blocked_pairs(
        names.unionByName(twins), "id", "name", max_edit=2
    )


@register("dbscan", oracle="""
-- Brute-force DBSCAN twin: O(n^2) neighbor pairs, paper-style
-- self-inclusive counts, recursive-CTE transitive closure labeling
-- each core component with its min id, border points min-attached.
WITH RECURSIVE p AS MATERIALIZED (
  SELECT c_custkey AS id,
    CASE WHEN c_custkey % 4 = 0 THEN 10.0 + (c_custkey % 7) * 0.3
         WHEN c_custkey % 4 = 1 THEN 50.0 + (c_custkey % 5) * 0.4
         ELSE ((c_custkey * 7919) % 10000) / 10.0 END AS x,
    CASE WHEN c_custkey % 4 = 0 THEN 20.0 + (c_custkey % 11) * 0.3
         WHEN c_custkey % 4 = 1 THEN 60.0 + (c_custkey % 13) * 0.4
         ELSE ((c_custkey * 104729) % 10000) / 10.0 END AS y
  FROM customer WHERE c_custkey <= 1500
), near AS MATERIALIZED (
  SELECT a.id AS pid, b.id AS qid
  FROM p a JOIN p b
    ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 2.25
), core AS MATERIALIZED (
  SELECT pid FROM near GROUP BY pid HAVING count(*) >= 5
), sym AS MATERIALIZED (
  SELECT n.pid AS a, n.qid AS b FROM near n
  WHERE n.pid <> n.qid
    AND n.pid IN (SELECT pid FROM core)
    AND n.qid IN (SELECT pid FROM core)
), r(node, label) AS (
  SELECT pid, pid FROM core
  UNION
  SELECT sym.b, r.label FROM r JOIN sym ON r.node = sym.a
), lab AS MATERIALIZED (
  SELECT node AS pid, min(label) AS cluster FROM r GROUP BY node
)
SELECT pid AS id, cluster, true AS is_core FROM lab
UNION ALL
SELECT n.pid AS id, min(l.cluster) AS cluster, false AS is_core
FROM near n
JOIN core c ON n.qid = c.pid
JOIN lab l ON l.pid = n.qid
WHERE n.pid NOT IN (SELECT pid FROM core)
GROUP BY n.pid
""")
def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-accelerated DBSCAN over synthesized customer coordinates:
    two planted dense lattices (custkey%4∈{0,1}) that must come out
    as two clusters, and a sparse 1000×1000 scatter that is mostly
    noise — all id-arithmetic, so the O(n²) brute-force oracle
    rebuilds the exact same plane and labels components with a
    recursive-CTE transitive closure. The engine path is the 9-cell
    grid equi-join + pointer-jumping components — density-bounded,
    never all-pairs. eps = 1.5, min_pts = 5."""
    from from_superset_to_clickhouse_spark.operators.similarity import (
        dbscan_grid,
    )

    k = F.col("c_custkey")
    # FIXED 1500-point probe plane: the plant's lattices have constant
    # extent, so letting the point count grow with sf would densify the
    # clusters linearly (quadratic pair growth — wrong as a scale probe,
    # and the O(n^2) brute-force oracle twin cannot replay it). A no-op
    # at the sf0.01 driver scale (customer has exactly 1500 rows).
    cust = _t(spark, sf_dir, "customer").filter(k <= 1500).select(
        k.alias("id"),
        F.when(k % 4 == 0, 10.0 + (k % 7) * 0.3)
        .when(k % 4 == 1, 50.0 + (k % 5) * 0.4)
        .otherwise(((k * 7919) % 10000) / 10.0)
        .alias("x"),
        F.when(k % 4 == 0, 20.0 + (k % 11) * 0.3)
        .when(k % 4 == 1, 60.0 + (k % 13) * 0.4)
        .otherwise(((k * 104729) % 10000) / 10.0)
        .alias("y"),
    )
    return dbscan_grid(cust, "id", "x", "y", eps=1.5, min_pts=5)


@register("range_grid", oracle="""
-- Brute-force theta-join twin of the grid-bucketed range join,
-- plus NOT EXISTS for the NULL-attribute left rows.
WITH r AS (
  SELECT p_partkey AS tier, p_partkey * 1000.0 AS lo,
    p_partkey * 1000.0 + 1500.0 AS hi
  FROM part WHERE p_partkey < 500
)
SELECT o.o_orderkey, o.o_totalprice, r.tier, r.lo, r.hi
FROM orders o JOIN r
  ON o.o_totalprice >= r.lo AND o.o_totalprice < r.hi
UNION ALL
SELECT o.o_orderkey, o.o_totalprice,
  NULL AS tier, NULL AS lo, NULL AS hi
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM r
  WHERE o.o_totalprice >= r.lo AND o.o_totalprice < r.hi
)
""")
def q_range_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed range join for a LARGE (non-broadcastable) range
    side: 500 overlapping price bands (lo = tier·1000, hi = lo+1500 —
    overlap makes multi-match multiplicity part of the contract)
    attach to orders via cell equi-join + exact residual; unmatched
    orders surface once with NULL band columns. The oracle is the
    brute-force theta join plus NOT EXISTS — the grid path must
    reproduce it exactly."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        range_join_grid,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 500)
        .select(
            F.col("p_partkey").alias("tier"),
            (F.col("p_partkey") * 1000.0).alias("lo"),
            (F.col("p_partkey") * 1000.0 + 1500.0).alias("hi"),
        )
    )
    return range_join_grid(
        orders, bands, "o_totalprice", "lo", "hi", cell=1000.0
    )


@register("winsorize", oracle="""
-- quantile_cont shares Spark percentile's interpolated type-7
-- definition, so clip boundaries agree exactly.
WITH b AS (
  SELECT event_type, quantile_cont(value, 0.05) AS lo,
    quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.value, round(b.lo, 6) AS p_lo,
  round(b.hi, 6) AS p_hi,
  round(least(greatest(e.value, b.lo), b.hi), 6) AS clipped
FROM events e JOIN b USING (event_type)
""")
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization of event values per type at
    [p05, p95]: one exact interpolated-percentile aggregation joined
    back, one codegen clip. Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the type-7 definition, so boundaries
    replay exactly."""
    from from_superset_to_clickhouse_spark.operators.stats import winsorize

    return winsorize(_ev(spark, sf_dir), "value", ["event_type"], 0.05, 0.95)


@register("cidr_lookup", oracle="""
-- Same dotted-quad positional arithmetic and div/mul CIDR masking;
-- /16 blocks of 65536 addresses, hi exclusive.
WITH ips AS (
  SELECT c_custkey AS custkey,
    '10.' || CAST(c_custkey % 30 AS VARCHAR) || '.'
      || CAST(c_custkey % 256 AS VARCHAR) || '.'
      || CAST(c_custkey % 250 + 1 AS VARCHAR) AS ip,
    167772160 + (c_custkey % 30) * 65536 + (c_custkey % 256) * 256
      + (c_custkey % 250 + 1) AS ipn
  FROM customer
), nets AS (
  SELECT n_name AS net_name,
    167772160 + n_nationkey * 65536 AS lo,
    167772160 + n_nationkey * 65536 + 65536 AS hi
  FROM nation
)
SELECT i.custkey, i.ip, n.net_name
FROM ips i LEFT JOIN nets n ON i.ipn >= n.lo AND i.ipn < n.hi
""")
def q_cidr_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse IPv4 dictionary-lookup analog: synthesized client
    IPs (10.k%30.x.y) join a 25-row /16 network table built from
    nations via pure-Catalyst dotted-quad parsing and CIDR mask
    arithmetic (integer div/mul, no bitwise ops — replayable in ANSI
    SQL). Networks broadcast; five of the thirty second-octet values
    have no network and surface NULL."""
    from from_superset_to_clickhouse_spark.functions.scalar import (
        cidr_range,
        ipv4_to_long,
    )

    k = F.col("c_custkey")
    ips = _t(spark, sf_dir, "customer").select(
        k.alias("custkey"),
        F.concat_ws(
            ".",
            F.lit("10"),
            (k % 30).cast("string"),
            (k % 256).cast("string"),
            (k % 250 + 1).cast("string"),
        ).alias("ip"),
    )
    nets = _t(spark, sf_dir, "nation").select(
        F.concat(
            F.lit("10."), F.col("n_nationkey").cast("string"), F.lit(".0.0/16")
        ).alias("cidr"),
        F.col("n_name").alias("net_name"),
    )
    lo, hi = cidr_range("cidr")
    nets_r = nets.select("net_name", lo.alias("_lo"), hi.alias("_hi"))
    ipn = ips.withColumn("_ipn", ipv4_to_long("ip"))
    return (
        ipn.join(
            F.broadcast(nets_r),
            (F.col("_ipn") >= F.col("_lo")) & (F.col("_ipn") < F.col("_hi")),
            "left",
        )
        .select("custkey", "ip", "net_name")
    )


@register("flesch", oracle="""
-- Term-for-term formula replay with the same vowel-group syllable
-- heuristic and terminator-split sentence counting.
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z'']+'),
                x -> x <> '') AS w,
    len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                    s -> trim(s) <> '')) AS n_sent
  FROM documents
), s AS (
  SELECT doc_id, len(w) AS n_words, n_sent,
    CAST(coalesce(list_sum(list_transform(w,
      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0)
      AS INTEGER) AS n_syll
  FROM t
)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
  CAST(n_sent AS INTEGER) AS n_sentences, n_syll AS n_syllables,
  CASE WHEN n_words > 0 AND n_sent > 0 THEN
    round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
      - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6)
  END AS flesch
FROM s
""")
def q_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease over the documents corpus: vowel-group
    syllable heuristic inside a higher-order sum, terminator-split
    sentence counts, the published 206.835/1.015/84.6 formula —
    pure codegen, replayed term-for-term in DuckDB."""
    from from_superset_to_clickhouse_spark.operators.text import (
        flesch_reading_ease,
    )

    return flesch_reading_ease(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id", "text"
    )


@register("gini", oracle="""
-- Rank-formula replay; sum(rank*x) is invariant under permutations
-- of tied values, so row_number tie order cannot leak.
WITH r AS (
  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS x,
    row_number() OVER (
      PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rk
  FROM orders
)
SELECT o_orderpriority, count(*) AS n, round(sum(x), 2) AS total,
  round((2.0 * sum(rk * x)) / (count(*) * sum(x))
    - (count(*) + 1.0) / count(*), 6) AS gini
FROM r GROUP BY o_orderpriority
""")
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order revenue per priority class via the
    rank formula — one keyed window rank (within hash partitions, no
    global sort) + one aggregation; invariant under tie permutations
    so row_number nondeterminism inside equal values cannot leak."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        gini_coefficient,
    )

    return gini_coefficient(
        _t(spark, sf_dir, "orders"), "o_totalprice", ["o_orderpriority"]
    )


@register("jsd", oracle="""
-- Same clamped binning as psi_drift; one-sided-empty bins give the
-- finite p*ln2 contribution, both-sided-empty bins never appear.
WITH binned AS (
  SELECT event_type,
    least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9) AS b,
    count(*) FILTER (ts <  TIMESTAMP '2024-01-16') AS nr,
    count(*) FILTER (ts >= TIMESTAMP '2024-01-16') AS nc
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, nr, nc,
    CAST(sum(nr) OVER (PARTITION BY event_type) AS DOUBLE) AS tr,
    CAST(sum(nc) OVER (PARTITION BY event_type) AS DOUBLE) AS tc
  FROM binned
), pq AS (
  SELECT event_type, tr, tc, nr / tr AS p, nc / tc AS q FROM tot
)
SELECT event_type, CAST(max(tr) AS BIGINT) AS n_ref,
  CAST(max(tc) AS BIGINT) AS n_cur,
  round(sum(
    CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
    + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END
  ), 6) AS jsd
FROM pq GROUP BY event_type
""")
def q_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence per event type between the two
    month halves — the bounded symmetric member of the drift family
    (PSI monitors, KS tests, JSD scores). Same clamped fixed-width
    binning contract as psi_drift; one binned pass + one window
    total."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        js_divergence,
    )

    ev = _ev(spark, sf_dir)
    side = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), F.lit("ref")
    ).otherwise(F.lit("cur"))
    return js_divergence(
        ev, "value", side, n_bins=10, lo=0.0, hi=500.0,
        group_cols=["event_type"],
    )


def _mwu_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared MWU fixture: odd event ids are arm 'b'; arm b of
    'click' carries a planted +30 shift the test must flag while the
    other types stay null."""
    ev = _ev(spark, sf_dir)
    side = F.when(F.col("event_id") % 2 == 1, F.lit("b")).otherwise(
        F.lit("a")
    )
    shifted = (
        F.col("value")
        + F.when(
            (F.col("event_type") == "click") & (F.col("event_id") % 2 == 1),
            F.lit(30.0),
        ).otherwise(F.lit(0.0))
    ).alias("value")
    return ev.select("event_type", shifted, side.alias("side"))


@register("mann_whitney", oracle="""
-- Midranks from per-distinct-value counts + prefix window, tie
-- correction, continuity correction, A&S-erf p-values.
WITH src AS (
  SELECT event_type,
    value + CASE WHEN event_type = 'click' AND event_id % 2 = 1
      THEN 30.0 ELSE 0.0 END AS v,
    CASE WHEN event_id % 2 = 1 THEN 'b' ELSE 'a' END AS side
  FROM events WHERE value IS NOT NULL
), pv AS (
  SELECT event_type, v,
    count(*) FILTER (side = 'a') AS ca,
    count(*) FILTER (side = 'b') AS cb
  FROM src GROUP BY 1, 2
), rk AS (
  SELECT event_type, v, ca, cb, ca + cb AS t,
    coalesce(sum(ca + cb) OVER (
      PARTITION BY event_type ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv
), ag AS (
  SELECT event_type, sum(ca) AS n_a, sum(cb) AS n_b,
    sum((bef + (t + 1.0) / 2.0) * ca) AS ra,
    sum(CAST(t AS DOUBLE) * t * t - t) AS ties
  FROM rk GROUP BY 1
), st AS (
  SELECT event_type, n_a, n_b,
    ra - n_a * (n_a + 1.0) / 2.0 AS u,
    (ra - n_a * (n_a + 1.0) / 2.0) - n_a * n_b / 2.0 AS zraw,
    sqrt((n_a * n_b / 12.0) * ((n_a + n_b + 1.0)
      - ties / ((n_a + n_b) * (n_a + n_b - 1.0)))) AS sig
  FROM ag
), zz AS (
  SELECT event_type, n_a, n_b, u,
    (zraw - sign(zraw) * 0.5) / sig AS zv
  FROM st
), et AS (
  SELECT *, abs(zv) / sqrt(2.0) AS x,
    1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS t
  FROM zz
), mwu AS (
  SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
    CAST(n_b AS BIGINT) AS n_b, round(u, 6) AS u, round(zv, 6) AS z,
    round(2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
      + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
      + 1.061405429 * t * t * t * t * t) * exp(-(x * x)))) / 2.0), 6)
      AS p_value
  FROM et
)
SELECT event_type, n_a, n_b, u, z, p_value FROM mwu
""")
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U per event type over planted arms (odd ids =
    'b'; click-b shifted +30): midranks from one keyed window over
    per-distinct-value counts (tie-exact), normal approximation with
    tie correction and continuity correction, A&S-erf p-values —
    replayed operation-for-operation in SQL."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mann_whitney_u,
    )

    d = _mwu_input(spark, sf_dir)
    return mann_whitney_u(d, "value", F.col("side"), ["event_type"])


@register("fdr_tests", oracle="""
-- Full pipeline replay: the Mann-Whitney CTE feeds the BH suffix-min
-- with (p, event_type) as the deterministic order.
WITH src AS (
  SELECT event_type,
    value + CASE WHEN event_type = 'click' AND event_id % 2 = 1
      THEN 30.0 ELSE 0.0 END AS v,
    CASE WHEN event_id % 2 = 1 THEN 'b' ELSE 'a' END AS side
  FROM events WHERE value IS NOT NULL
), pv AS (
  SELECT event_type, v,
    count(*) FILTER (side = 'a') AS ca,
    count(*) FILTER (side = 'b') AS cb
  FROM src GROUP BY 1, 2
), rk AS (
  SELECT event_type, v, ca, cb, ca + cb AS t,
    coalesce(sum(ca + cb) OVER (
      PARTITION BY event_type ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv
), ag AS (
  SELECT event_type, sum(ca) AS n_a, sum(cb) AS n_b,
    sum((bef + (t + 1.0) / 2.0) * ca) AS ra,
    sum(CAST(t AS DOUBLE) * t * t - t) AS ties
  FROM rk GROUP BY 1
), st AS (
  SELECT event_type, n_a, n_b,
    ra - n_a * (n_a + 1.0) / 2.0 AS u,
    (ra - n_a * (n_a + 1.0) / 2.0) - n_a * n_b / 2.0 AS zraw,
    sqrt((n_a * n_b / 12.0) * ((n_a + n_b + 1.0)
      - ties / ((n_a + n_b) * (n_a + n_b - 1.0)))) AS sig
  FROM ag
), zz AS (
  SELECT event_type, n_a, n_b, u,
    (zraw - sign(zraw) * 0.5) / sig AS zv
  FROM st
), et AS (
  SELECT *, abs(zv) / sqrt(2.0) AS x,
    1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS t
  FROM zz
), mwu AS (
  SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
    CAST(n_b AS BIGINT) AS n_b, round(u, 6) AS u, round(zv, 6) AS z,
    round(2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
      + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
      + 1.061405429 * t * t * t * t * t) * exp(-(x * x)))) / 2.0), 6)
      AS p_value
  FROM et
), ranked AS (
  SELECT event_type, p_value,
    row_number() OVER (ORDER BY p_value, event_type) AS rank,
    count(*) OVER () AS m
  FROM mwu
), qq AS (
  SELECT event_type, p_value, rank,
    floor(least(min(m * p_value / rank) OVER (
      ORDER BY p_value DESC, event_type DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
      * 1e6 + 0.5) / 1e6 AS q_value
  FROM ranked
)
SELECT event_type, p_value, CAST(rank AS INTEGER) AS rank, q_value,
  q_value <= 0.05 AS rejected
FROM qq
""")
def q_fdr_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR over the per-type Mann–Whitney
    p-values — the multiple-comparison gate a per-slice drift
    dashboard needs (only the planted 'click' shift should survive).
    The suffix-min runs over the TEST table (5 rows — dashboard
    scale; the single-partition sort is over hypotheses, documented),
    with the type as deterministic tiebreak."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        bh_fdr,
        mann_whitney_u,
    )

    d = _mwu_input(spark, sf_dir)
    tests = mann_whitney_u(d, "value", F.col("side"), ["event_type"]).select(
        "event_type", "p_value"
    )
    return bh_fdr(tests, "p_value", alpha=0.05, tiebreak_cols=["event_type"])


@register("acf", oracle="""
-- Same centered products: bucket means, per-key mean join, lag
-- windows over one keyed order, full-series sum-of-squares
-- denominator.
WITH src AS (
  SELECT event_type, ts,
    value + CASE WHEN event_type = 'view'
      THEN 50.0 * (date_part('day', ts) % 2) ELSE 0.0 END AS value
  FROM events
), b AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    avg(value) AS xbar
  FROM src GROUP BY 1, 2
), mu AS (SELECT key, avg(xbar) AS m FROM b GROUP BY key),
c AS (
  SELECT b.key, b.bucket_ts, b.xbar - mu.m AS cc
  FROM b JOIN mu ON b.key = mu.key
), l AS (
  SELECT key, cc,
    lag(cc, 1) OVER w AS l1, lag(cc, 2) OVER w AS l2,
    lag(cc, 3) OVER w AS l3, lag(cc, 4) OVER w AS l4,
    lag(cc, 5) OVER w AS l5, lag(cc, 6) OVER w AS l6,
    lag(cc, 7) OVER w AS l7
  FROM c WINDOW w AS (PARTITION BY key ORDER BY bucket_ts)
), den AS (SELECT key, sum(cc * cc) AS d FROM l GROUP BY key),
nums AS (
  SELECT key, 1 AS lag, sum(cc * l1) AS nm FROM l WHERE l1 IS NOT NULL GROUP BY key
  UNION ALL SELECT key, 2, sum(cc * l2) FROM l WHERE l2 IS NOT NULL GROUP BY key
  UNION ALL SELECT key, 3, sum(cc * l3) FROM l WHERE l3 IS NOT NULL GROUP BY key
  UNION ALL SELECT key, 4, sum(cc * l4) FROM l WHERE l4 IS NOT NULL GROUP BY key
  UNION ALL SELECT key, 5, sum(cc * l5) FROM l WHERE l5 IS NOT NULL GROUP BY key
  UNION ALL SELECT key, 6, sum(cc * l6) FROM l WHERE l6 IS NOT NULL GROUP BY key
  UNION ALL SELECT key, 7, sum(cc * l7) FROM l WHERE l7 IS NOT NULL GROUP BY key
)
SELECT n.key, CAST(n.lag AS INTEGER) AS lag,
  round(n.nm / den.d, 6) AS acf
FROM nums n JOIN den ON n.key = den.key
""")
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlogram per event type over daily bucket means, lags 1-7,
    with a planted alternating ±50 day parity signal on 'view' that
    must show as a strongly negative lag-1 / positive lag-2 pattern.
    All lag columns ride ONE keyed window sort; series bounded at
    periods × keys."""
    from from_superset_to_clickhouse_spark.operators.temporal import acf

    ev = _ev(spark, sf_dir).select(
        "event_type",
        "ts",
        (
            F.col("value")
            + F.when(
                F.col("event_type") == "view",
                50.0 * (F.dayofmonth("ts") % 2),
            ).otherwise(F.lit(0.0))
        ).alias("value"),
    )
    return acf(ev, "event_type", "ts", "value", bucket="1 day", max_lag=7)


@register("ndcg", oracle="""
-- Same graded-gain arithmetic; both rankings totally ordered by the
-- doc-id tiebreak so selection is engine-stable.
WITH judged AS (
  SELECT DISTINCT user_id % 20 AS query, event_id % 50 AS doc FROM events
), j2 AS (
  SELECT query, doc,
    greatest(0, 3 - (query * 7 + doc * 13) % 9) AS rel,
    (query * 31 + doc * 17) % 101 AS score
  FROM judged
), r AS (
  SELECT query, CAST(rel AS DOUBLE) AS rel,
    row_number() OVER (PARTITION BY query ORDER BY score DESC, doc) AS rs,
    row_number() OVER (PARTITION BY query ORDER BY rel DESC, doc) AS ri
  FROM j2
), s AS (
  SELECT query, count(*) AS n_judged,
    sum(CASE WHEN rs <= 10
      THEN (power(2.0, rel) - 1.0) / log2(rs + 1.0) ELSE 0.0 END) AS dcg,
    sum(CASE WHEN ri <= 10
      THEN (power(2.0, rel) - 1.0) / log2(ri + 1.0) ELSE 0.0 END) AS idcg
  FROM r GROUP BY query
)
SELECT query, CAST(n_judged AS BIGINT) AS n_judged,
  round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
  round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
FROM s
""")
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query over synthesized judgments (query/doc pairs
    from event arithmetic, graded relevance and a pseudo-system
    score both id-derived): graded 2^rel−1 gains, two keyed
    row_number windows (system + ideal order, doc id tiebreak), one
    aggregation. The offline eval primitive for the BM25/RRF/ANN
    serving stack."""
    from from_superset_to_clickhouse_spark.operators.similarity import (
        ndcg_at_k,
    )

    ev = _ev(spark, sf_dir)
    judged = (
        ev.select(
            (F.col("user_id") % 20).alias("query"),
            (F.col("event_id") % 50).alias("doc"),
        )
        .distinct()
        .select(
            "query",
            "doc",
            F.greatest(
                F.lit(0),
                3 - (F.col("query") * 7 + F.col("doc") * 13) % 9,
            ).alias("rel"),
            ((F.col("query") * 31 + F.col("doc") * 17) % 101).alias("score"),
        )
    )
    return ndcg_at_k(judged, "query", "score", "rel", k=10,
                     tiebreak_col="doc")


# ---------------------------------------------------------------------------
# Trend and change-point tests, rank statistics, time-series analysis,
# product analytics and record linkage.
# ---------------------------------------------------------------------------

@register("theil_sen", oracle="""
-- Same pair construction and exact middle-row medians: daily means,
-- all-pairs slopes, median slope then median residual intercept.
WITH d AS (
  SELECT event_type, date_part('day', ts) AS d,
    avg(value + CASE WHEN event_type = 'purchase'
      THEN 2.5 * date_part('day', ts) ELSE 0.0 END) AS m
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.event_type, a.d AS xi, b.d AS xj,
    (b.m - a.m) / (b.d - a.d) AS s
  FROM d a JOIN d b ON a.event_type = b.event_type AND a.d < b.d
), r AS (
  SELECT event_type, s,
    row_number() OVER (PARTITION BY event_type ORDER BY s, xi, xj) AS rn,
    count(*) OVER (PARTITION BY event_type) AS mm
  FROM p
), sl AS (
  SELECT event_type, avg(s) AS slope, max(mm) AS n_pairs
  FROM r WHERE rn = floor((mm + 1) / 2) OR rn = floor((mm + 2) / 2)
  GROUP BY event_type
), res AS (
  SELECT d.event_type, sl.slope, sl.n_pairs,
    d.m - sl.slope * d.d AS rr, d.d AS xi
  FROM d JOIN sl ON d.event_type = sl.event_type
), rk AS (
  SELECT event_type, slope, n_pairs, rr,
    row_number() OVER (PARTITION BY event_type ORDER BY rr, xi) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM res
)
SELECT event_type, round(max(slope), 6) AS slope,
  round(avg(rr), 6) AS intercept,
  CAST(max(n_pairs) AS BIGINT) AS n_pairs
FROM rk WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
GROUP BY event_type
""")
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend over daily event-value means per type,
    with a planted +2.5/day drift on 'purchase' that the median-of-
    slopes estimator must recover despite day-level noise. Pair count
    is calendar-bounded (30 days -> 435 pairs/key); exact medians via
    middle-row_number selection, no percentile interpolation."""
    from from_superset_to_clickhouse_spark.operators.stats import theil_sen

    ev = _ev(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.dayofmonth("ts").alias("d"),
            (
                F.col("value")
                + F.when(
                    F.col("event_type") == "purchase",
                    2.5 * F.dayofmonth("ts"),
                ).otherwise(F.lit(0.0))
            ).alias("v"),
        )
        .groupBy("event_type", "d")
        .agg(F.avg("v").alias("m"))
    )
    return theil_sen(daily, "event_type", "d", "m").select(
        F.col("key").alias("event_type"), "slope", "intercept", "n_pairs"
    )


@register("mann_kendall", oracle="""
-- Pairwise signs, tie-corrected variance, continuity correction,
-- A&S-erf p-values — identical arithmetic order.
WITH d AS (
  SELECT event_type, date_part('day', ts) AS t,
    avg(value + CASE WHEN event_type = 'error'
      THEN -2.0 * date_part('day', ts) ELSE 0.0 END) AS y
  FROM events GROUP BY 1, 2
), sa AS (
  SELECT a.event_type, sum(sign(b.y - a.y)) AS s
  FROM d a JOIN d b ON a.event_type = b.event_type AND a.t < b.t
  GROUP BY 1
), ties AS (
  SELECT event_type, sum(c) AS n,
    sum(c * (c - 1) * (2 * c + 5)) AS tsum
  FROM (
    SELECT event_type, y, CAST(count(*) AS DOUBLE) AS c
    FROM d GROUP BY 1, 2
  ) GROUP BY 1
), st AS (
  SELECT sa.event_type, s, n,
    (n * (n - 1) * (2 * n + 5) - tsum) / 18.0 AS var_s
  FROM sa JOIN ties ON sa.event_type = ties.event_type
), zz AS (
  SELECT event_type, n, s, var_s,
    CASE WHEN sqrt(var_s) > 0
      THEN (s - sign(s)) / sqrt(var_s) END AS zv
  FROM st
), et AS (
  SELECT *, abs(zv) / sqrt(2.0) AS x,
    1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS t
  FROM zz
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
  round(var_s, 6) AS var_s, round(zv, 6) AS z,
  round(2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(x * x)))) / 2.0), 6)
    AS p_value
FROM et
""")
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend significance per event type over daily
    means, with a planted -2/day decline on 'error': S from pairwise
    signs, tie-corrected variance, +-1 continuity correction, A&S-erf
    p-values — the is-it-trending companion to theil_sen."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mann_kendall,
    )

    ev = _ev(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.dayofmonth("ts").alias("d"),
            (
                F.col("value")
                + F.when(
                    F.col("event_type") == "error",
                    -2.0 * F.dayofmonth("ts"),
                ).otherwise(F.lit(0.0))
            ).alias("v"),
        )
        .groupBy("event_type", "d")
        .agg(F.avg("v").alias("m"))
    )
    return mann_kendall(daily, "event_type", "d", "m").select(
        F.col("key").alias("event_type"),
        "n", "s", "var_s", "z", "p_value",
    )


@register("page_hinkley", oracle="""
-- Same three stacked windows: expanding mean, cumulative deviation,
-- running min; alarm compares the UNROUNDED trace on both engines.
WITH src AS (
  SELECT event_type, ts,
    value + CASE WHEN event_type = 'error' AND date_part('day', ts) > 20
      THEN 150.0 ELSE 0.0 END AS v
  FROM events
), b AS (
  SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    avg(v) AS xbar
  FROM src GROUP BY 1, 2
), e AS (
  SELECT event_type, bucket_ts, xbar, avg(xbar) OVER w AS mbar
  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), m AS (
  SELECT event_type, bucket_ts, xbar, sum(xbar - mbar) OVER w AS mm
  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), p AS (
  SELECT event_type, bucket_ts, xbar, mm - min(mm) OVER w AS ph
  FROM m WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, bucket_ts, round(xbar, 6) AS xbar,
  round(ph, 6) AS ph, ph > 200.0 AS alarm
FROM p
""")
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift trace per event type with a
    planted +150 level shift on 'error' after Jan 20 (lambda = 200,
    so the shift fires within ~2 days and the full cumulative trace
    is replayed, not just the alarm). Three stacked scans over one
    keyed window sort; series calendar-bounded."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        page_hinkley,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        "event_type",
        "ts",
        (
            F.col("value")
            + F.when(
                (F.col("event_type") == "error")
                & (F.dayofmonth("ts") > 20),
                150.0,
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    out = page_hinkley(
        src, "event_type", "ts", "v", bucket="1 day", delta=0.0, lam=200.0
    )
    return out.select(
        F.col("key").alias("event_type"),
        "bucket_ts", "xbar", "ph", "alarm",
    )


@register("seasonal_decomp", oracle="""
-- Same positional-phase decomposition: centered 7-point trend with
-- NULL edges, phase means of the detrended series re-centered per key.
WITH src AS (
  SELECT event_type, ts,
    value + CASE WHEN event_type = 'view'
      THEN 15.0 * (date_part('day', ts) % 7) ELSE 0.0 END AS v
  FROM events
), b AS (
  SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    avg(v) AS y
  FROM src GROUP BY 1, 2
), t AS (
  SELECT event_type, bucket_ts, y,
    (row_number() OVER w - 1) % 7 AS phase,
    CASE WHEN count(y) OVER f = 7 THEN avg(y) OVER f END AS trend
  FROM b WINDOW
    w AS (PARTITION BY event_type ORDER BY bucket_ts),
    f AS (PARTITION BY event_type ORDER BY bucket_ts
      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), ph AS (
  SELECT event_type, phase, avg(y - trend) AS sraw
  FROM t GROUP BY 1, 2
), ce AS (SELECT event_type, avg(sraw) AS soff FROM ph GROUP BY 1),
se AS (
  SELECT ph.event_type, phase, sraw - soff AS seas
  FROM ph JOIN ce ON ph.event_type = ce.event_type
)
SELECT t.event_type, bucket_ts, round(y, 6) AS y,
  round(trend, 6) AS trend, round(seas, 6) AS seasonal,
  round(y - trend - seas, 6) AS resid
FROM t JOIN se ON t.event_type = se.event_type AND t.phase = se.phase
""")
def q_seasonal_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily means per event type
    with a planted period-7 sawtooth (+15*(day%7)) on 'view': centered
    7-point trend (NULL edges), positional phase effects re-centered
    to zero, residuals. One keyed window pass + two phase-level
    broadcasts."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        seasonal_decompose,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        "event_type",
        "ts",
        (
            F.col("value")
            + F.when(
                F.col("event_type") == "view",
                15.0 * (F.dayofmonth("ts") % 7),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    out = seasonal_decompose(
        src, "event_type", "ts", "v", bucket="1 day", period=7
    )
    return out.select(
        F.col("key").alias("event_type"),
        "bucket_ts", "y", "trend", "seasonal", "resid",
    )


@register("isotonic", oracle="""
-- Same minimax closed form: prefix sums, all O(n^2) interval means,
-- suffix-min over interval ends, prefix-max over starts.
WITH d AS (
  SELECT event_type, CAST(date_part('day', ts) AS DOUBLE) AS x,
    avg(value + CASE WHEN event_type = 'purchase'
      THEN 2.5 * date_part('day', ts) ELSE 0.0 END) AS y
  FROM events GROUP BY 1, date_part('day', ts)
), base AS (
  SELECT event_type, x, y,
    row_number() OVER (PARTITION BY event_type ORDER BY x) AS i,
    sum(y) OVER (PARTITION BY event_type ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM d
), iv AS (
  SELECT a.event_type, a.i AS j, b.i AS k,
    (b.s - (a.s - a.y)) / (b.i - a.i + 1) AS av
  FROM base a JOIN base b
    ON a.event_type = b.event_type AND b.i >= a.i
), mm AS (
  SELECT event_type, j, k AS i,
    min(av) OVER (PARTITION BY event_type, j ORDER BY k DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM iv
), fit AS (
  SELECT event_type, i, max(m) AS fit FROM mm GROUP BY 1, 2
)
SELECT b.event_type, b.x AS x, round(b.y, 6) AS y,
  round(f.fit, 6) AS fit
FROM base b JOIN fit f ON b.event_type = f.event_type AND b.i = f.i
""")
def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (monotone calibration fit) of daily means
    per event type via the minimax closed form — no driver-side PAV
    loop; the planted +2.5/day drift on 'purchase' gives a rising
    staircase, the flat types collapse to near-constant pools.
    O(series^2) intervals per key where series is calendar-bounded."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        isotonic_fit,
    )

    ev = _ev(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.dayofmonth("ts").alias("d"),
            (
                F.col("value")
                + F.when(
                    F.col("event_type") == "purchase",
                    2.5 * F.dayofmonth("ts"),
                ).otherwise(F.lit(0.0))
            ).alias("v"),
        )
        .groupBy("event_type", "d")
        .agg(F.avg("v").alias("m"))
    )
    return isotonic_fit(daily, "event_type", "d", "m").select(
        F.col("key").alias("event_type"), "x", "y", "fit"
    )


@register("quantile_norm", oracle="""
-- Same deterministic mapping: per-group rank r of n -> pooled index
-- h = (r-1)(N-1)/(n-1) (integer product, then one double division),
-- linear interpolation between pooled ranks floor(h)+1, floor(h)+2.
WITH src AS (
  SELECT event_type AS grp, event_id AS id, CAST(value AS DOUBLE) AS v
  FROM events
), r AS (
  SELECT grp, id, v,
    row_number() OVER (PARTITION BY grp ORDER BY v, id) AS r,
    count(*) OVER (PARTITION BY grp) AS n
  FROM src
), p AS (
  SELECT v AS pv, row_number() OVER (ORDER BY v, grp, id) AS rr
  FROM src
), t AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM src),
h AS (
  SELECT grp, id, v, big_n,
    CASE WHEN n > 1
      THEN ((r - 1) * (big_n - 1)) / CAST(n - 1 AS DOUBLE)
      ELSE (big_n - 1) / 2.0 END AS h
  FROM r, t
), i AS (
  SELECT grp, id, v, h - floor(h) AS frac,
    CAST(floor(h) AS BIGINT) + 1 AS lo,
    least(CAST(floor(h) AS BIGINT) + 2, big_n) AS hi
  FROM h
)
SELECT i.grp AS event_type, i.id AS event_id, round(i.v, 6) AS v,
  floor((plo.pv * (1 - i.frac) + phi.pv * i.frac) * 1e6 + 0.5) / 1e6
    AS qnorm
FROM i JOIN p plo ON plo.rr = i.lo JOIN p phi ON phi.rr = i.hi
""")
def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of event values across event-type
    groups onto the POOLED distribution — the batch-effect remover
    that makes per-source quality scores comparable before one global
    threshold. Deterministic contract: per-group rank r of n maps to
    pooled fractional index h = (r-1)(N-1)/(n-1) (integer product
    then divide, so integer h is bit-exact on both engines), linear
    interpolation between pooled ranks floor(h)+1 and floor(h)+2.
    Scale: both rankings use the two-phase bucketed row_number (per-
    (part,bucket) sorts, parts x buckets driver scalars) — no single-
    task global sort; interpolation is two equi-joins on integer
    pooled ranks."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        quantile_normalize,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        F.col("event_type").alias("grp"),
        F.col("event_id").alias("id"),
        F.col("value").alias("v"),
    )
    return quantile_normalize(src, "grp", "id", "v").select(
        F.col("grp").alias("event_type"),
        F.col("id").alias("event_id"),
        F.round("v", 6).alias("v"),
        "qnorm",
    )


@register("weighted_quantile", oracle="""
-- Same lower-weighted-quantile rule: integral cumulative weight in
-- (value, event_id) order; cross-multiplied integer selection so the
-- chosen row is identical on both engines.
WITH src AS (
  SELECT event_type AS k, event_id AS id, CAST(value AS DOUBLE) AS v,
    CAST(user_id % 17 + 1 AS BIGINT) AS w
  FROM events
), c AS (
  SELECT k, id, v, w,
    CAST(sum(w) OVER (PARTITION BY k ORDER BY v, id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cw,
    CAST(sum(w) OVER (PARTITION BY k) AS BIGINT) AS tw
  FROM src
), q(num, den, q) AS (
  VALUES (1, 4, 'p25'), (1, 2, 'p50'), (3, 4, 'p75'), (9, 10, 'p90')
)
SELECT c.k AS event_type, q.q AS q, round(c.v, 6) AS quantile,
  c.tw AS total_weight
FROM c, q
WHERE cw * CAST(q.den AS BIGINT) >= CAST(q.num AS BIGINT) * tw
  AND (cw - w) * CAST(q.den AS BIGINT) < CAST(q.num AS BIGINT) * tw
""")
def q_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantiles per event type (ClickHouse
    quantileExactWeighted parity): weight = user_id % 17 + 1, the
    q-quantile is the first row in (value, event_id) order whose
    integral cumulative weight reaches q*W. Selection is the cross-
    multiplied integer predicate cw*den >= num*W — no float threshold
    for engines to straddle. Running totals via the two-phase
    bucketed cumsum (no single-task per-key sort)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        weighted_quantile,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        "event_type",
        "event_id",
        "value",
        (F.col("user_id") % 17 + 1).alias("w"),
    )
    return weighted_quantile(
        src, "event_type", "event_id", "value", "w"
    ).select(
        "event_type",
        "q",
        F.round("quantile", 6).alias("quantile"),
        "total_weight",
    )


@register("time_decay", oracle="""
-- Same weight arithmetic: integer-micros delta, /1e6 then /tau, exp;
-- per-key newest timestamp as the reference point.
WITH ref AS (
  SELECT event_type AS k, max(epoch_us(ts)) AS ref_us
  FROM events GROUP BY 1
), s AS (
  SELECT e.event_type AS k, r.ref_us,
    exp(-((r.ref_us - epoch_us(e.ts)) / 1000000.0) / 259200.0) AS wgt,
    CAST(e.value AS DOUBLE) AS v
  FROM events e JOIN ref r ON e.event_type = r.k
  WHERE e.value IS NOT NULL
)
SELECT k AS event_type, make_timestamp(max(ref_us)) AS ref_ts,
  count(*) AS n, round(sum(wgt), 2) AS decayed_count,
  round(sum(v * wgt), 2) AS decayed_sum,
  round(sum(v * wgt) / sum(wgt), 6) AS decayed_avg
FROM s GROUP BY k
""")
def q_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed sum/count/avg per event type at each
    type's newest observation (tau = 3 days) — ClickHouse
    exponentialTimeDecayedSum/Count/Avg parity. Delta-t in integer
    micros then two double divisions, identical IEEE sequence in SQL;
    sums rounded 2dp (order noise), ratio 6dp."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        time_decay_agg,
    )

    ev = _ev(spark, sf_dir)
    return time_decay_agg(
        ev, "event_type", "ts", "value", tau_seconds=259200.0
    )


@register("jaro_link", oracle="""
-- DuckDB's jaro_winkler_similarity IS the same canonical variant
-- (p=0.1, boost>0.7, prefix<=4); scores floor-rounded at 6dp on both
-- engines before the threshold.
WITH p AS (
  SELECT p_partkey, p_brand, p_name FROM part
), s AS (
  SELECT a.p_partkey AS p1, b.p_partkey AS p2,
    floor(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6 + 0.5)
      / 1e6 AS jw
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
)
SELECT p1, p2, jw FROM s WHERE jw >= 0.8
""")
def q_jaro_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Jaro-Winkler fuzzy linkage over part names (brand
    blocks, threshold 0.8): the canonical JW variant (p=0.1, boost
    threshold 0.7, prefix cap 4) — verified bit-identical to DuckDB's
    jaro_winkler_similarity across every fixture pair, so the oracle
    replays the scores with its built-in. Arrow-batched scoring of
    equi-join candidates only — never all-pairs."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        jaro_winkler_link,
    )

    part = _t(spark, sf_dir, "part")
    return jaro_winkler_link(
        part, "p_partkey", "p_name", ["p_brand"], threshold=0.8
    ).select(
        F.col("id_1").alias("p1"),
        F.col("id_2").alias("p2"),
        "jw",
    )


def _lttb_oracle_sql(nbuckets: int = 8) -> str:
    """Unrolled LTTB greedy: one MATERIALIZED step CTE per bucket
    (CTE inlining would expand the chain 2^steps — the kcore lesson),
    each picking its bucket's max-area point against the previous
    selection and the next bucket's cnt-multiplied centroid."""
    steps = []
    for b in range(nbuckets):
        prev = "s0" if b == 0 else f"s{b}"
        steps.append(f"""
s{b + 1} AS MATERIALIZED (
  SELECT k, x, y FROM (
    SELECT p.k, p.x, p.y, row_number() OVER (
      PARTITION BY p.k ORDER BY
        abs((prev.x * c.cnt - c.sx) * (p.y - prev.y)
            - (prev.x - p.x) * (c.sy - prev.y * c.cnt)) DESC, p.x
    ) AS rn
    FROM ib p JOIN {prev} prev ON p.k = prev.k
      JOIN nxt c ON p.k = c.k AND c.b = {b}
    WHERE p.bkt = {b}
  ) WHERE rn = 1
)""")
    unions = "\n  UNION ALL ".join(
        f"SELECT k, x, y FROM s{i}" for i in range(nbuckets + 1)
    )
    return f"""
WITH pts0 AS (
  SELECT event_type AS k, CAST(date_part('day', ts) AS DOUBLE) AS x,
    CAST(sum(user_id % 100) AS DOUBLE) AS y
  FROM events GROUP BY 1, date_part('day', ts)
), nn AS (SELECT k, count(*) AS n FROM pts0 GROUP BY k),
pts AS MATERIALIZED (
  SELECT p.k, p.x, p.y, nn.n,
    row_number() OVER (PARTITION BY p.k ORDER BY p.x) - 1 AS i0
  FROM pts0 p JOIN nn ON p.k = nn.k
),
ib AS MATERIALIZED (
  SELECT k, x, y, n, ((i0 - 1) * {nbuckets}) // (n - 2) AS bkt
  FROM pts WHERE i0 >= 1 AND i0 <= n - 2 AND n > {nbuckets + 2}
),
firstp AS (SELECT k, x, y FROM pts WHERE i0 = 0 AND n > {nbuckets + 2}),
lastp AS (SELECT k, x, y FROM pts WHERE i0 = n - 1 AND n > {nbuckets + 2}),
bs AS (
  SELECT k, bkt, CAST(count(*) AS DOUBLE) AS cnt,
    sum(x) AS sx, sum(y) AS sy
  FROM ib GROUP BY k, bkt
),
nxt AS MATERIALIZED (
  SELECT k, bkt - 1 AS b, cnt, sx, sy FROM bs WHERE bkt >= 1
  UNION ALL
  SELECT k, {nbuckets - 1} AS b, 1.0 AS cnt, x AS sx, y AS sy FROM lastp
),
s0 AS (SELECT k, x, y FROM firstp),{",".join(steps)}
SELECT k AS event_type, x, y FROM (
  {unions}
  UNION ALL SELECT k, x, y FROM lastp
  UNION ALL SELECT k, x, y FROM pts WHERE n <= {nbuckets + 2}
)
"""


@register("lttb", oracle=_lttb_oracle_sql())
def q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB visual downsampling of each event type's daily series
    (x = day, y = integral sum(user_id % 100)) to 10 points —
    ClickHouse largestTriangleThreeBuckets parity. Integral x/y keep
    the cnt-multiplied triangle argmax exact integer arithmetic, so
    the unrolled 8-step SQL greedy picks the identical points."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        lttb_downsample,
    )

    ev = _ev(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.dayofmonth("ts").alias("x")
    ).agg(F.sum(F.col("user_id") % 100).alias("y"))
    return lttb_downsample(
        daily, "event_type", "x", "y", n_out=10
    ).select("event_type", "x", "y")


@register("stream_cdc_apply", oracle="""
-- Last-write-wins fold of the same CDC log: newest event per key,
-- tombstones drop the key.
WITH cdc AS (
  SELECT event_id, event_type, value, CAST(1 AS BIGINT) AS seq, 'U' AS op
  FROM events
  UNION ALL
  SELECT event_id, event_type, value * 3, 2, 'U'
  FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id, NULL, NULL, 3, 'D'
  FROM events WHERE event_id % 7 = 3
), last AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_id ORDER BY seq DESC
  ) AS rn
  FROM cdc
)
SELECT event_id, event_type, value, seq
FROM last WHERE rn = 1 AND op = 'U'
""")
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply composition: a 3-batch change feed (full
    upsert load at seq 1; value*3 re-upserts for id%5==0 at seq 2;
    deletes for id%7==3 at seq 3) arrives as a checkpointed file
    stream in mtime order and is merge-applied batch-by-batch onto a
    partitioned (non-dedup) store — update/insert for upserts,
    matched-delete for tombstones, affected partitions only. The
    oracle is the last-write-wins fold of the SAME feed: stream-
    applied CDC == replaying the log."""
    import glob
    import os
    import shutil

    from from_superset_to_clickhouse_spark.streaming.ingest import (
        stream_cdc_apply,
    )

    ev = _ev(spark, sf_dir).select("event_id", "event_type", "value")
    b1 = ev.select(
        "event_id", "event_type", "value",
        F.lit(1).cast("long").alias("seq"), F.lit("U").alias("op"),
    )
    b2 = ev.filter(F.col("event_id") % 5 == 0).select(
        "event_id", "event_type",
        (F.col("value") * 3).alias("value"),
        F.lit(2).cast("long").alias("seq"), F.lit("U").alias("op"),
    )
    b3 = ev.filter(F.col("event_id") % 7 == 3).select(
        "event_id",
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit(3).cast("long").alias("seq"), F.lit("D").alias("op"),
    )
    base = tempfile.mkdtemp(prefix="sg_cdc_")
    src_dir = base + "/cdc"
    os.makedirs(src_dir)
    for i, b in enumerate((b1, b2, b3)):
        tmp = base + f"/w{i}"
        b.coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dst = src_dir + f"/{i:02d}.parquet"
        shutil.copy(part, dst)
        # file streams order new files by modification time: stamp the
        # batches so the CDC log replays in seq order
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    store = TableStore(spark, base + "/store")
    store.create(
        Schema(
            name="cdc_target",
            fields=(
                Field("event_id", "bigint", nullable=False),
                Field("event_type", "string"),
                Field("value", "double"),
                Field("seq", "bigint"),
            ),
            partition_by=("event_type",),
            sort_by=("event_id",),
        )
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )
    q = stream_cdc_apply(
        stream, store, "cdc_target", ["event_id"], base + "/ckpt"
    )
    q.awaitTermination()
    return store.read("cdc_target").select(
        "event_id", "event_type", "value", "seq"
    )


@register("seq_next_node", oracle="""
-- Same lead-marked adjacency match and min-position selection.
WITH t AS (
  SELECT user_id AS u, event_type AS t,
    row_number() OVER w AS pos,
    lead(event_type, 1) OVER w AS l1,
    lead(event_type, 2) OVER w AS l2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), m AS (
  SELECT u, min(pos) AS mpos
  FROM t WHERE t = 'view' AND l1 = 'click' GROUP BY u
)
SELECT t.u AS user_id, t.l2 AS next_event, m.mpos AS match_pos
FROM t JOIN m ON t.u = m.u AND t.pos = m.mpos
""")
def q_seq_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sequenceNextNode parity: per user, the event type
    following the FIRST adjacent view→click run in (ts, event_id)
    order (NULL when the run ends the history). One keyed window pass
    with lead columns; first match via min-position equijoin."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_next_node,
    )

    ev = _ev(spark, sf_dir)
    return sequence_next_node(
        ev, "user_id", "ts", "event_type", ["view", "click"],
        tiebreak_col="event_id",
    )


@register("cohort_retention", oracle="""
-- Monday-start week truncation on both engines; offsets as exact
-- day-diffs divided by 7.
WITH f AS (
  SELECT user_id AS u, min(date_trunc('week', ts)) AS cohort
  FROM events GROUP BY 1
), a AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS wk
  FROM events
), sz AS (
  SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1
), cell AS (
  SELECT f.cohort, date_diff('day', f.cohort, a.wk) // 7 AS offset_weeks,
    count(*) AS active_users
  FROM a JOIN f ON a.u = f.u
  GROUP BY 1, 2
)
SELECT CAST(c.cohort AS TIMESTAMP) AS cohort_week, c.offset_weeks,
  c.active_users, sz.cohort_size,
  round(c.active_users / CAST(sz.cohort_size AS DOUBLE), 6)
    AS retention_rate
FROM cell c JOIN sz ON c.cohort = sz.cohort
""")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle over events: users cohorted by
    first-event week, offsets in whole weeks, per-cell active counts
    and rates. Two partial-agg passes + broadcast cohort sizes."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        cohort_retention,
    )

    ev = _ev(spark, sf_dir)
    return cohort_retention(ev, "user_id", "ts")


@register("attribution", oracle="""
-- Same ignore-nulls first/last over the strictly-prior frame.
WITH t AS (
  SELECT event_type AS t,
    first_value(CASE WHEN event_type IN ('view', 'click')
        THEN event_type END IGNORE NULLS) OVER w AS first_touch,
    last_value(CASE WHEN event_type IN ('view', 'click')
        THEN event_type END IGNORE NULLS) OVER w AS last_touch
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT first_touch, last_touch, count(*) AS conversions
FROM t WHERE t = 'purchase'
GROUP BY 1, 2
""")
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution of purchases to the strictly-prior
    view/click touches per user — one keyed window pass with
    ignore-nulls first/last over the UNBOUNDED-to-1-PRECEDING frame,
    no self-join against the touch history."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        touch_attribution,
    )

    ev = _ev(spark, sf_dir)
    return touch_attribution(
        ev, "user_id", "ts", "event_type", ["view", "click"],
        "purchase", tiebreak_col="event_id",
    )


@register("benford", oracle="""
-- Same string-derived leading digit and windowed chi-square.
WITH src AS (
  SELECT abs(CAST(l_extendedprice AS DOUBLE)) AS v FROM lineitem
), f AS (SELECT v FROM src WHERE v >= 1),
c AS (
  SELECT substr(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR), 1, 1)
    AS digit, count(*) AS n
  FROM f GROUP BY 1
), t AS (
  SELECT digit, n, CAST(sum(n) OVER () AS DOUBLE) AS nn,
    log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS p
  FROM c
)
SELECT digit, n, round(n / nn, 6) AS obs_prop, round(p, 6) AS exp_prop,
  round(sum((n - nn * p) * (n - nn * p) / (nn * p)) OVER (), 6) AS chi2
FROM t
""")
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of l_extendedprice: leading
    digit from the integer part's decimal string (never floor(log10) —
    libm boundary hazard), observed vs log10(1+1/d) expectations and
    the chi-square statistic over the 9-row digit table."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        benford_test,
    )

    li = _t(spark, sf_dir, "lineitem")
    return benford_test(li, "l_extendedprice")


@register("zipf", oracle="""
-- DuckDB's regr_* family as the independent oracle over the same
-- log-log top-300 rank/frequency table (same tokenizer as
-- build_vocab).
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
    '[^a-z0-9'']+'), x -> x <> '')) AS tok
  FROM documents
), freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
ranked AS (
  SELECT log10(CAST(row_number() OVER (ORDER BY cnt DESC, tok)
      AS DOUBLE)) AS lx,
    log10(CAST(cnt AS DOUBLE)) AS ly
  FROM freq
  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok) <= 300
)
SELECT CAST(regr_count(ly, lx) AS BIGINT) AS n,
  round(regr_slope(ly, lx), 6) AS slope,
  round(regr_intercept(ly, lx), 6) AS intercept,
  round(regr_r2(ly, lx), 6) AS r2
FROM ranked
""")
def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the documents corpus: log-log least squares
    of the top-300 term frequencies against rank — the corpus-level
    naturalness fingerprint. Reuses linear_regression's one-pass
    sufficient statistics; rank runs over the bounded vocab table."""
    from from_superset_to_clickhouse_spark.operators.text import zipf_fit

    return zipf_fit(_docs(spark, sf_dir), "text", top_n=300)


@register("bootstrap_ci", oracle="""
-- Identical md5-seeded resamples, 6dp-rounded replicate means ranked
-- with the replicate id as tiebreak, bounds at ranks 5/196.
WITH src AS (
  SELECT event_type AS k, event_id AS id, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), idx AS (
  SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY id) AS i
  FROM src
), sz AS (
  SELECT k, count(*) AS n, round(avg(v), 6) AS mean FROM src GROUP BY k
), reps AS (SELECT unnest(range(1, 201)) AS b),
picked AS (
  SELECT idx.k, reps.b,
    CAST(('0x' || substr(md5(idx.k || ':' || CAST(reps.b AS VARCHAR)
      || ':' || CAST(idx.i AS VARCHAR)), 1, 8)) AS BIGINT)
      % sz.n + 1 AS i
  FROM idx JOIN sz ON idx.k = sz.k CROSS JOIN reps
), means AS (
  SELECT p.k, p.b, round(avg(idx.v), 6) AS m
  FROM picked p JOIN idx ON p.k = idx.k AND p.i = idx.i
  GROUP BY 1, 2
), rk AS (
  SELECT k, m, row_number() OVER (PARTITION BY k ORDER BY m, b) AS r
  FROM means
), bounds AS (
  SELECT k,
    min(CASE WHEN r = 5 THEN m END) AS ci_lo,
    min(CASE WHEN r = 196 THEN m END) AS ci_hi
  FROM rk WHERE r IN (5, 196) GROUP BY k
)
SELECT sz.k AS event_type, CAST(sz.n AS BIGINT) AS n, sz.mean,
  b.ci_lo, b.ci_hi
FROM sz JOIN bounds b ON sz.k = b.k
""")
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap 95% CI for the mean event value per type:
    200 md5-seeded resamples (the CMS hashing trick — both engines
    draw the identical resample), replicate means rounded to 6dp
    before ranking, bounds at ranks 5/196."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        bootstrap_ci,
    )

    ev = _ev(spark, sf_dir)
    return bootstrap_ci(
        ev, "event_type", "event_id", "value",
        n_boot=200, lo_rank=5, hi_rank=196,
    )


@register("heaps", oracle="""
-- Same construction: births at first doc, window running totals in
-- doc_id order, regr_* over the log-log growth curve.
WITH toks AS (
  SELECT doc_id AS d, unnest(list_filter(regexp_split_to_array(
    lower(text), '[^a-z0-9'']+'), x -> x <> '')) AS tok
  FROM documents
), per_doc AS (
  SELECT d, count(*) AS nt FROM toks GROUP BY d
), births AS (
  SELECT d, count(*) AS nb FROM (
    SELECT tok, min(d) AS d FROM toks GROUP BY tok
  ) GROUP BY d
), base AS (
  SELECT p.d, p.nt, coalesce(b.nb, 0) AS nb
  FROM per_doc p LEFT JOIN births b ON p.d = b.d
), run AS (
  SELECT d,
    CAST(sum(nt) OVER w AS BIGINT) AS n_run,
    CAST(sum(nb) OVER w AS BIGINT) AS v_run
  FROM base WINDOW w AS (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pts AS (
  SELECT log10(CAST(n_run AS DOUBLE)) AS lx,
    log10(CAST(v_run AS DOUBLE)) AS ly
  FROM run
)
SELECT CAST(regr_count(ly, lx) AS BIGINT) AS n,
  round(regr_slope(ly, lx), 6) AS slope,
  round(regr_intercept(ly, lx), 6) AS intercept,
  round(regr_r2(ly, lx), 6) AS r2
FROM pts
""")
def q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit over documents in doc_id
    order: token births at first document + two bucketed running
    totals give (N(r), V(r)) without any per-rank distinct; log-log
    least squares on top. The growth companion to the zipf entry."""
    from from_superset_to_clickhouse_spark.operators.text import heaps_fit

    return heaps_fit(_docs(spark, sf_dir), "doc_id", "text")


@register("rolling_corr", oracle="""
-- Same 6dp-rounded-mean centering and trailing 7-row corr window.
WITH d AS (
  SELECT date_trunc('day', ts) AS d,
    avg(CASE WHEN event_type = 'purchase' THEN value END) AS px,
    avg(CASE WHEN event_type = 'view' THEN value END) AS vx
  FROM events GROUP BY 1
), m AS (
  SELECT round(avg(px), 6) AS mx, round(avg(vx), 6) AS my FROM d
), c AS (
  SELECT d.d, px, vx,
    count(*) OVER w AS n_window,
    round(corr(px - m.mx, vx - m.my) OVER w, 6) AS roll_corr
  FROM d, m
  WINDOW w AS (ORDER BY d.d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(d AS TIMESTAMP) AS d, round(px, 6) AS px,
  round(vx, 6) AS vx, n_window, roll_corr
FROM c
""")
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day Pearson correlation between the purchase and
    view daily mean-value series — inputs centered by their 6dp-
    rounded global means so the windowed moments never hit
    catastrophic cancellation on either engine."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        rolling_corr,
    )

    ev = _ev(spark, sf_dir)
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.avg(
            F.when(F.col("event_type") == "purchase", F.col("value"))
        ).alias("px"),
        F.avg(
            F.when(F.col("event_type") == "view", F.col("value"))
        ).alias("vx"),
    )
    out = rolling_corr(daily, "d", "px", "vx", window_rows=7)
    return out.select(
        "d",
        F.round("px", 6).alias("px"),
        F.round("vx", 6).alias("vx"),
        "n_window",
        "roll_corr",
    )


@register("sparkbar", oracle="""
-- Same integer levels and glyph lookup; ordered string assembly.
WITH cells AS (
  SELECT event_type AS k, date_part('hour', ts) AS slot,
    count(*) AS cnt
  FROM events GROUP BY 1, 2
), lv AS (
  SELECT k, slot,
    CAST(floor((cnt * 7) / CAST(max(cnt) OVER (PARTITION BY k)
      AS DOUBLE)) AS INTEGER) AS lvl
  FROM cells
)
SELECT k AS event_type, count(*) AS n_slots,
  string_agg(['▁','▂','▃','▄','▅','▆','▇','█'][lvl + 1], ''
    ORDER BY slot) AS bar
FROM lv GROUP BY k
""")
def q_sparkbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sparkbar parity: each event type's hour-of-day
    histogram rendered as a 24-char block string — integer levels
    (cnt*7 // max) + an 8-glyph lookup array, byte-identical on any
    engine."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sparkbar,
    )

    ev = _ev(spark, sf_dir)
    return sparkbar(
        ev.select("event_type", F.hour("ts").alias("h")),
        "event_type",
        "h",
    )


def _platt_oracle_sql(iters: int = 6) -> str:
    """Unrolled Newton: one MATERIALIZED CTE per step, each computing
    the five sufficient sums at the previous grid point and landing
    the update back on the 1e-8 grid."""
    steps = ["s0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)"]
    for k in range(1, iters + 1):
        steps.append(f"""
s{k} AS MATERIALIZED (
  SELECT
    floor((p.a + (t.hyy * t.ga - t.hxy * t.gb)
      / (t.hxx * t.hyy - t.hxy * t.hxy)) * 1e8 + 0.5) / 1e8 AS a,
    floor((p.b + (t.hxx * t.gb - t.hxy * t.ga)
      / (t.hxx * t.hyy - t.hxy * t.hxy)) * 1e8 + 0.5) / 1e8 AS b
  FROM s{k - 1} p, (
    SELECT sum(x * (y - pp)) AS ga, sum(y - pp) AS gb,
      sum((x * x) * (pp * (1.0 - pp))) AS hxx,
      sum(x * (pp * (1.0 - pp))) AS hxy,
      sum(pp * (1.0 - pp)) AS hyy
    FROM (
      SELECT x, y, 1.0 / (1.0 + exp(-(x * q.a + q.b))) AS pp
      FROM src, s{k - 1} q
    )
  ) t
)""")
    return f"""
WITH src AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) / 100.0 AS x,
    CAST(CASE WHEN value + (user_id % 20) > 520
      THEN 1 ELSE 0 END AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL
),
{",".join(steps)}
SELECT (SELECT count(*) FROM src) AS n, f.a, f.b,
  (SELECT round(-avg(y * ln(pp + 1e-12)
      + (1.0 - y) * ln(1.0 - pp + 1e-12)), 6)
   FROM (SELECT x, y, 1.0 / (1.0 + exp(-(x * f2.a + f2.b))) AS pp
         FROM src, s{iters} f2)) AS log_loss
FROM s{iters} f
"""


@register("platt", oracle=_platt_oracle_sql())
def q_platt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt calibration of the event value score (x = value/100)
    against the planted label value + user_id%20 > 520: 6 Newton
    steps, parameters rounded to the 1e-8 grid after every step so
    both engines walk the identical trajectory."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        platt_scale,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        (F.col("value") / 100.0).alias("x"),
        (
            (F.col("value") + F.col("user_id") % 20) > 520
        ).cast("int").alias("y"),
    )
    return platt_scale(src, "x", "y", iters=6)


_MARKOV_SQL = """
-- Same construction: gap-based sessions via lag+running-sum, adjacent
-- pairs via lead over the identical (user, ts, event_id) sort, pairs
-- crossing a session boundary dropped, row-normalized per from_type.
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
      THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM s
), pairs AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER w2 AS to_type,
    lead(sid) OVER w2 = sid AS ok
  FROM sess
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT from_type, to_type, count(*) AS n FROM pairs
  WHERE ok AND to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
  round(CAST(n AS DOUBLE)
    / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM c
"""


@register("markov_chain", oracle=_MARKOV_SQL)
def q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of within-session event
    flows: sessionize per user (30-min gap), pair adjacent events
    inside each session, count (from_type, to_type) and row-normalize
    per source state. 5 event types -> at most a 25-row table, but the
    pairing itself is one keyed window pass over all events."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        markov_transitions,
    )

    ev = _ev(spark, sf_dir)
    return markov_transitions(
        ev, "user_id", "ts", "event_type",
        gap_minutes=30, tiebreak_col="event_id",
    )


_SPEARMAN_SQL = """
-- Same midrank construction per axis (per-distinct-value counts +
-- prefix window), Pearson on ranks with the exact (n+1)/2 centering.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS x,
    CAST(value AS DOUBLE) + CAST(user_id % 50 AS DOUBLE) AS y
  FROM events
), tx AS (
  SELECT g, x, count(*) AS t FROM src GROUP BY 1, 2
), rx AS (
  SELECT g, x,
    coalesce(sum(t) OVER (PARTITION BY g ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1.0) / 2.0 AS rkx
  FROM tx
), ty AS (
  SELECT g, y, count(*) AS t FROM src GROUP BY 1, 2
), ry AS (
  SELECT g, y,
    coalesce(sum(t) OVER (PARTITION BY g ORDER BY y
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1.0) / 2.0 AS rky
  FROM ty
), rr AS (
  SELECT s.g, rkx, rky
  FROM src s JOIN rx ON s.g = rx.g AND s.x = rx.x
             JOIN ry ON s.g = ry.g AND s.y = ry.y
), ag AS (
  SELECT g, count(*) AS n, sum(rkx * rky) AS sxy,
    sum(rkx * rkx) AS sxx, sum(rky * rky) AS syy
  FROM rr GROUP BY g
)
SELECT g AS event_type, CAST(n AS BIGINT) AS n,
  round(CASE WHEN (sxx - m) * (syy - m) > 0
    THEN (sxy - m) / sqrt((sxx - m) * (syy - m)) END, 6) AS rho
FROM (SELECT *, CAST(n AS DOUBLE) * (n + 1.0) * (n + 1.0) / 4.0 AS m
      FROM ag)
"""


@register("spearman", oracle=_SPEARMAN_SQL)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per event type between the event
    value and a planted second metric (value + user_id%50): midranks
    on both axes, Pearson on the ranks. Rank sums are exact multiples
    of 0.25 — identical on both engines without any float grid."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        spearman_corr,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        "event_type",
        F.col("value").alias("x"),
        (F.col("value") + (F.col("user_id") % 50).cast("double")).alias(
            "y"
        ),
    )
    return spearman_corr(src, "x", "y", ["event_type"])


_KENDALL_SQL = """
-- Identical daily bucketing, 2^-20 quantization, ordered pair join,
-- tie-adjusted tau-b denominator.
WITH d AS (
  SELECT event_type AS g, date_trunc('day', ts) AS o,
    floor(avg(CAST(value AS DOUBLE)) * 1048576.0) / 1048576.0 AS x,
    floor(CAST(count(*) AS DOUBLE) * 1048576.0) / 1048576.0 AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.g,
    sign(a.x - b.x) * sign(a.y - b.y) AS sxy,
    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
  FROM d a JOIN d b ON a.g = b.g AND a.o < b.o
), pa AS (
  SELECT g, count(*) AS n0, CAST(sum(sxy) AS BIGINT) AS s,
    sum(tx) AS t1, sum(ty) AS t2
  FROM p GROUP BY g
), cnt AS (
  SELECT g, count(*) AS n FROM d GROUP BY g
)
SELECT pa.g AS event_type, CAST(n AS BIGINT) AS n, s,
  round(CASE WHEN (n0 - t1) * (n0 - t2) > 0
    THEN CAST(s AS DOUBLE)
      / sqrt(CAST(n0 - t1 AS DOUBLE) * CAST(n0 - t2 AS DOUBLE))
    END, 6) AS tau_b
FROM pa JOIN cnt ON pa.g = cnt.g
"""


@register("kendall", oracle=_KENDALL_SQL)
def q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b per event type between the daily mean value and
    the daily event count (30-point series -> 435 ordered pairs per
    group; the O(len^2) pair join is confined to the bucketed series
    by construction). Inputs quantized to the 2^-20 grid so the tie
    set is engine-identical."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        kendall_tau_b,
    )

    ev = _ev(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.avg("value").alias("x"),
        F.count("*").cast("double").alias("y"),
    )
    return kendall_tau_b(daily, "d", "x", "y", ["event_type"])


_ASSOC_SQL = """
-- Same cell table; chi2 from expected counts, entropies in nats.
WITH cells AS (
  SELECT event_type AS a,
    CAST(CAST(floor(CAST(value AS DOUBLE) / 100.0) AS BIGINT)
      AS VARCHAR) AS b,
    count(*) AS n
  FROM events GROUP BY 1, 2
), ra AS (SELECT a, sum(n) AS na FROM cells GROUP BY a),
cb AS (SELECT b, sum(n) AS nb FROM cells GROUP BY b),
tot AS (SELECT sum(n) AS nn, count(DISTINCT a) AS r,
               count(DISTINCT b) AS c FROM cells),
j AS (
  SELECT cells.a, cells.b, CAST(cells.n AS DOUBLE) AS o,
    CAST(na AS DOUBLE) AS na, CAST(nb AS DOUBLE) AS nb,
    CAST(nn AS DOUBLE) AS nn, r, c
  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
), ag AS (
  SELECT nn, r, c,
    sum((o - na * nb / nn) * (o - na * nb / nn)
        / (na * nb / nn)) AS chi2,
    sum(-(o / nn) * ln(o / nb)) AS hab,
    sum(-(o / nn) * ln(o / na)) AS hba,
    sum(-(o / nn) * ln(na / nn)) AS ha,
    sum(-(o / nn) * ln(nb / nn)) AS hb
  FROM j GROUP BY 1, 2, 3
)
SELECT CAST(nn AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
  CAST(c AS BIGINT) AS c, round(chi2, 6) AS chi2,
  round(sqrt(chi2 / (nn * (CAST(least(r, c) AS DOUBLE) - 1.0))), 6)
    AS cramers_v,
  round((ha - hab) / ha, 6) AS theil_u_ab,
  round((hb - hba) / hb, 6) AS theil_u_ba
FROM ag
"""


@register("assoc_strength", oracle=_ASSOC_SQL)
def q_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V + Theil's U (both directions) between event type and
    the value's 100-wide bucket — ClickHouse ``cramersV``/``theilsU``
    parity from one contingency pass."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        contingency_assoc,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        "event_type",
        F.floor(F.col("value") / 100.0).cast("long").alias("bucket"),
    )
    return contingency_assoc(src, "event_type", "bucket")


_ANOVA_SQL = """
-- Same two-pass grid-centered construction.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL
), gm AS (
  SELECT g, count(*) AS ng,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mg
  FROM src GROUP BY g
), tot AS (
  SELECT count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mu
  FROM src
), ssw AS (
  SELECT count(DISTINCT src.g) AS k,
    sum(floor((v - mg) * (v - mg) * 1048576.0)) / 1048576.0 AS ssw
  FROM src JOIN gm ON src.g = gm.g
), ssb AS (
  SELECT sum(floor(ng * (mg - mu) * (mg - mu) * 1048576.0))
    / 1048576.0 AS ssb
  FROM gm CROSS JOIN tot
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
  round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
  round((ssb / (k - 1.0)) / (ssw / (n - k)), 6) AS f_stat
FROM ssw CROSS JOIN ssb CROSS JOIN tot
"""


@register("anova", oracle=_ANOVA_SQL)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of value across the 5 event types: group means
    floored to the 2^-20 grid, squared deviations re-quantized on the
    same grid -> SSB/SSW are exact integer sums, drift-free on both
    engines."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        anova_oneway,
    )

    return anova_oneway(_ev(spark, sf_dir), "value", "event_type")


_ROC_AUC_SQL = """
-- Midranks from per-distinct-score counts + prefix window; AUC via
-- the rank-sum identity; every sum is on the 0.5 grid (exact).
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS s,
    CASE WHEN CAST(value AS DOUBLE)
      + CAST(user_id % 2 AS DOUBLE) * 50.0 > 250.0
      THEN 1 ELSE 0 END AS y
  FROM events
), pv AS (
  SELECT s, count(*) FILTER (y = 1) AS cp,
    count(*) FILTER (y = 0) AS cn
  FROM src GROUP BY s
), rk AS (
  SELECT s, cp, cn, cp + cn AS t,
    coalesce(sum(cp + cn) OVER (ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv
), ag AS (
  SELECT sum(cp) AS n_pos, sum(cn) AS n_neg,
    sum((bef + (t + 1.0) / 2.0) * cp) AS rp
  FROM rk
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
  round((rp - n_pos * (n_pos + 1.0) / 2.0) / (n_pos * n_neg), 6)
    AS auc,
  round(2.0 * ((rp - n_pos * (n_pos + 1.0) / 2.0) / (n_pos * n_neg))
    - 1.0, 6) AS gini_idx
FROM ag
"""


@register("roc_auc", oracle=_ROC_AUC_SQL)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (rank-sum form with midranks) of the raw event
    value against a planted label that is value-driven plus user
    noise — a mid-range AUC, not a degenerate 1.0. Global + per no
    group: single row."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        roc_auc,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        F.col("value").alias("s"),
        (
            (F.col("value") + (F.col("user_id") % 2) * 50.0) > 250.0
        ).cast("int").alias("y"),
    )
    return roc_auc(src, "s", "y")


_CLASSIFIER_EVAL_SQL = f"""
-- Same grid-quantized probability, confusion counts, 2^-20 Brier
-- re-quantization, 10-bin ECE.
WITH src AS (
  SELECT floor(least(CAST(value AS DOUBLE) / 500.0, 1.0)
           * {_FXP}.0) / {_FXP}.0 AS p,
    CASE WHEN CAST(value AS DOUBLE)
      + CAST(user_id % 2 AS DOUBLE) * 50.0 > 250.0
      THEN 1 ELSE 0 END AS y
  FROM events
), conf AS (
  SELECT count(*) AS n,
    count(*) FILTER (p >= 0.5 AND y = 1) AS tp,
    count(*) FILTER (p >= 0.5 AND y = 0) AS fp,
    count(*) FILTER (p < 0.5 AND y = 0) AS tn,
    count(*) FILTER (p < 0.5 AND y = 1) AS fn,
    sum(floor((p - y) * (p - y) * {_FXP}.0)) / {_FXP}.0 AS se
  FROM src
), b AS (
  SELECT least(floor(p * 10), 9) AS bb, count(*) AS nb,
    avg(p) AS pb, avg(CAST(y AS DOUBLE)) AS yb
  FROM src GROUP BY 1
), e AS (
  SELECT sum(CAST(nb AS DOUBLE) / (SELECT n FROM conf)
    * abs(pb - yb)) AS ece
  FROM b
)
SELECT CAST(n AS BIGINT) AS n, CAST(tp AS BIGINT) AS tp,
  CAST(fp AS BIGINT) AS fp, CAST(tn AS BIGINT) AS tn,
  CAST(fn AS BIGINT) AS fn,
  round(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy,
  round(CASE WHEN tp + fp > 0
    THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision_,
  round(CASE WHEN tp + fn > 0
    THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
  round(CASE WHEN CAST(tp AS DOUBLE) / (tp + fp)
             + CAST(tp AS DOUBLE) / (tp + fn) > 0
    THEN 2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
             * (CAST(tp AS DOUBLE) / (tp + fn))
         / (CAST(tp AS DOUBLE) / (tp + fp)
            + CAST(tp AS DOUBLE) / (tp + fn)) END, 6) AS f1,
  round(se / n, 6) AS brier,
  round((SELECT ece FROM e), 6) AS ece
FROM conf
"""


@register("classifier_eval", oracle=_CLASSIFIER_EVAL_SQL)
def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded-classifier scorecard (confusion counts, accuracy /
    precision / recall / F1, Brier, 10-bin ECE) for a probability
    derived from value on the exact 2^-20 grid and the same planted
    label as roc_auc."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        classifier_eval,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        (
            F.floor(F.least(F.col("value") / 500.0, F.lit(1.0)) * _FXP)
            / _FXP
        ).alias("p"),
        (
            (F.col("value") + (F.col("user_id") % 2) * 50.0) > 250.0
        ).cast("int").alias("y"),
    )
    return classifier_eval(src, "p", "y", threshold=0.5, bins=10)


_WOE_IV_SQL = """
-- Same cells, Laplace 0.5 smoothing, natural-log WoE.
WITH cells AS (
  SELECT CAST(floor(CAST(value AS DOUBLE) / 50.0) AS BIGINT) AS bucket,
    count(*) FILTER (CAST(value AS DOUBLE)
      + CAST(user_id % 2 AS DOUBLE) * 50.0 > 250.0) AS n_pos,
    count(*) FILTER (CAST(value AS DOUBLE)
      + CAST(user_id % 2 AS DOUBLE) * 50.0 <= 250.0) AS n_neg
  FROM events GROUP BY 1
), tot AS (
  SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM cells
)
SELECT bucket, CAST(n_pos AS BIGINT) AS n_pos,
  CAST(n_neg AS BIGINT) AS n_neg,
  round(ln(((n_pos + 0.5) / CAST(tp AS DOUBLE))
         / ((n_neg + 0.5) / CAST(tn AS DOUBLE))), 6) AS woe,
  round(((n_pos + 0.5) / CAST(tp AS DOUBLE)
       - (n_neg + 0.5) / CAST(tn AS DOUBLE))
    * ln(((n_pos + 0.5) / CAST(tp AS DOUBLE))
       / ((n_neg + 0.5) / CAST(tn AS DOUBLE))), 6) AS iv_term
FROM cells CROSS JOIN tot
"""


@register("woe_iv", oracle=_WOE_IV_SQL)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value screening of the
    50-wide value bucket against the planted label — per-bucket rows
    whose iv_term sums to the feature's IV."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        woe_iv,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        F.floor(F.col("value") / 50.0).cast("long").alias("b"),
        (
            (F.col("value") + (F.col("user_id") % 2) * 50.0) > 250.0
        ).cast("int").alias("y"),
    )
    return woe_iv(src, "b", "y")


_DELTA_SUM_SQL = """
-- Same window sort, same grid quantization of adjacent differences.
WITH s AS (
  SELECT event_type AS key, CAST(value AS DOUBLE) AS v,
    lag(CAST(value AS DOUBLE)) OVER w AS pv,
    row_number() OVER w AS rn,
    count(*) OVER (PARTITION BY event_type) AS nn
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT key AS event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN v - pv > 0
    THEN floor((v - pv) * 1048576.0) ELSE 0 END) AS DOUBLE)
    / 1048576.0 AS delta_sum,
  CAST(sum(CASE WHEN v - pv < 0
    THEN floor(-(v - pv) * 1048576.0) ELSE 0 END) AS DOUBLE)
    / 1048576.0 AS neg_delta_sum,
  round(max(CASE WHEN rn = nn THEN v END)
      - max(CASE WHEN rn = 1 THEN v END), 6) AS net
FROM s GROUP BY key
"""


@register("delta_sum", oracle=_DELTA_SUM_SQL)
def q_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse deltaSum/runningDifference rollup per event type:
    positive-delta sum, drop sum, and net over the (ts, event_id)-
    ordered value series; deltas on the 2^-20 grid -> exact sums."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        delta_sum,
    )

    ev = _ev(spark, sf_dir)
    return delta_sum(ev, "event_type", "ts", "value", "event_id") \
        .withColumnRenamed("key", "event_type")


_BOUNDING_RATIO_SQL = """
WITH s AS (
  SELECT event_type AS key, CAST(value AS DOUBLE) AS v,
    epoch_us(ts) AS t, row_number() OVER w AS rn,
    count(*) OVER (PARTITION BY event_type) AS nn
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), a AS (
  SELECT key, count(*) AS n,
    max(CASE WHEN rn = 1 THEN v END) AS v0,
    max(CASE WHEN rn = nn THEN v END) AS v1,
    max(CASE WHEN rn = 1 THEN t END) AS t0,
    max(CASE WHEN rn = nn THEN t END) AS t1
  FROM s GROUP BY key
)
SELECT key AS event_type, CAST(n AS BIGINT) AS n,
  round(CASE WHEN t1 > t0
    THEN (v1 - v0) / (CAST(t1 - t0 AS DOUBLE) / 1e6) END, 6)
    AS rate_per_s
FROM a
"""


@register("bounding_ratio", oracle=_BOUNDING_RATIO_SQL)
def q_bounding_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse boundingRatio per event type: endpoint slope
    (last value - first value) / elapsed seconds over the ordered
    series."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        bounding_ratio,
    )

    ev = _ev(spark, sf_dir)
    return bounding_ratio(ev, "event_type", "ts", "value", "event_id") \
        .withColumnRenamed("key", "event_type")


_TWAP_SQL = """
-- BIGINT products (DOUBLE would round above 2^53), HUGEINT-safe cast.
WITH r AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    epoch_us(ts) AS t,
    CAST(floor(CAST(value AS DOUBLE) * 1024.0) AS BIGINT) AS qv
  FROM events
), d AS (
  SELECT key, b, qv,
    lead(t) OVER (PARTITION BY key, b ORDER BY t, qv) - t AS dt
  FROM r
)
SELECT key AS event_type, b AS bucket_ts,
  CAST(count(*) AS BIGINT) AS n,
  round(CAST(CAST(sum(qv * dt) AS BIGINT) AS DOUBLE)
      / CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE) / 1024.0, 6) AS twap
FROM d WHERE dt IS NOT NULL GROUP BY 1, 2
"""


@register("twap", oracle=_TWAP_SQL)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event type, day): each
    observation holds until the next inside the day, weights are
    integer microseconds, values on the 2^-10 grid -> the weighted
    sum is an exact BIGINT on both engines."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        twap,
    )

    ev = _ev(spark, sf_dir)
    return twap(ev, "event_type", "ts", "value", bucket="day") \
        .withColumnRenamed("key", "event_type")


_INTERVAL_UNION_SQL = """
WITH r AS (
  SELECT user_id AS key, epoch_us(ts) AS s,
    epoch_us(ts) + 300000000 AS e
  FROM events
), m AS (
  SELECT key, s, e,
    CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp
      THEN 1 ELSE 0 END AS new
  FROM r
  WINDOW wp AS (PARTITION BY key ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), i AS (
  SELECT key, s, e,
    sum(new) OVER (PARTITION BY key ORDER BY s) AS isl
  FROM m
), g AS (
  SELECT key, isl, count(*) AS cnt, max(e) - min(s) AS len
  FROM i GROUP BY 1, 2
)
SELECT key AS user_id, CAST(sum(cnt) AS BIGINT) AS n,
  CAST(count(*) AS BIGINT) AS n_islands,
  CAST(sum(len) AS BIGINT) AS covered_us
FROM g GROUP BY key
"""


@register("interval_union", oracle=_INTERVAL_UNION_SQL)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse intervalLengthSum per user: union length of the
    [ts, ts+5min) activity intervals (overlap counted once) via
    gaps-and-islands on integer microseconds."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        interval_union_length,
    )

    ev = _ev(spark, sf_dir)
    return interval_union_length(ev, "user_id", "ts", 300) \
        .withColumnRenamed("key", "user_id")


_MAX_INTERSECTIONS_SQL = """
-- Ends (-1) sort before starts (+1) at the same instant: half-open.
WITH b AS (
  SELECT event_type AS key, epoch_us(ts) AS s FROM events
), p AS (
  SELECT key, s AS t, 1 AS d FROM b
  UNION ALL
  SELECT key, s + 300000000 AS t, -1 AS d FROM b
), r AS (
  SELECT key, t,
    sum(d) OVER (PARTITION BY key ORDER BY t, d) AS run
  FROM p
), m AS (
  SELECT key, max(run) AS max_conc FROM r GROUP BY key
)
SELECT r.key AS event_type, CAST(m.max_conc AS BIGINT) AS max_conc,
  CAST(min(t) AS BIGINT) AS at_us
FROM r JOIN m ON r.key = m.key AND r.run = m.max_conc
GROUP BY 1, 2
"""


@register("max_intersections", oracle=_MAX_INTERSECTIONS_SQL)
def q_max_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse maxIntersections(+Position) per event type: peak
    concurrency of the [ts, ts+5min) intervals and the earliest
    microsecond reaching it, via a +1/-1 sweep line."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        max_intersections,
    )

    ev = _ev(spark, sf_dir)
    return max_intersections(ev, "event_type", "ts", 300) \
        .withColumnRenamed("key", "event_type")


_PERIODOGRAM_SQL = """
WITH d AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    avg(CAST(value AS DOUBLE)) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT key, x,
    row_number() OVER (PARTITION BY key ORDER BY b) - 1 AS t,
    count(*) OVER (PARTITION BY key) AS n
  FROM d
), m AS (SELECT key, avg(x) AS mu FROM s GROUP BY key),
c AS (
  SELECT s.key, x - mu AS cx, t, n, k
  FROM s JOIN m ON s.key = m.key
  CROSS JOIN (SELECT unnest(range(1, 9)) AS k)
), a AS (
  SELECT key, CAST(k AS INTEGER) AS k,
    sum(cx * cos(2.0 * pi() * k * t / CAST(n AS DOUBLE))) AS re,
    sum(cx * sin(2.0 * pi() * k * t / CAST(n AS DOUBLE))) AS im,
    max(n) AS n
  FROM c GROUP BY 1, 2
)
SELECT key AS event_type, k,
  round((re * re + im * im) / CAST(n AS DOUBLE), 6) AS power
FROM a
"""


@register("periodogram", oracle=_PERIODOGRAM_SQL)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schuster periodogram (harmonics k=1..8) of the daily mean
    value per event type — the frequency-domain twin of the acf
    entry. Trig args are identical integers on both engines; output
    rounded far above libm noise."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        periodogram,
    )

    ev = _ev(spark, sf_dir)
    return periodogram(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


_ACF_CTE = """
WITH d AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    avg(CAST(value AS DOUBLE)) AS x
  FROM events GROUP BY 1, 2
), m AS (SELECT key, avg(x) AS mu FROM d GROUP BY key),
c AS (
  SELECT d.key, b, x - mu AS cx FROM d JOIN m ON d.key = m.key
), l AS (
  SELECT key, cx, lag(cx, 1) OVER wk AS l1,
    lag(cx, 2) OVER wk AS l2, lag(cx, 3) OVER wk AS l3
  FROM c WINDOW wk AS (PARTITION BY key ORDER BY b)
), r AS (
  SELECT key, count(*) AS n,
    round(sum(cx * l1) / sum(cx * cx), 6) AS r1,
    round(sum(cx * l2) / sum(cx * cx), 6) AS r2,
    round(sum(cx * l3) / sum(cx * cx), 6) AS r3
  FROM l GROUP BY key
)
"""


_YULE_WALKER_SQL = _ACF_CTE + """
SELECT key AS event_type, CAST(n AS BIGINT) AS n, r1, r2,
  round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) AS phi1,
  round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS phi2,
  round(1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
            - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2, 6)
    AS sigma2_ratio
FROM r
"""


@register("yule_walker", oracle=_YULE_WALKER_SQL)
def q_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule-Walker fit of the daily mean value per event type:
    closed-form phi from 6dp-rounded autocorrelations, so the solve
    is identical scalar arithmetic on both engines."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        yule_walker_ar2,
    )

    ev = _ev(spark, sf_dir)
    return yule_walker_ar2(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


_PACF_SQL = _ACF_CTE + """, p AS (
  SELECT key, r1, r2, r3,
    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
  FROM r
), p3 AS (
  SELECT key, r1, r2, r3, p2, r1 * (1.0 - p2) AS phi21 FROM p
)
SELECT key AS event_type, CAST(lag AS INTEGER) AS lag,
  round(CASE lag WHEN 1 THEN r1 WHEN 2 THEN p2
    ELSE (r3 - phi21 * r2 - p2 * r1)
         / (1.0 - phi21 * r1 - p2 * r2) END, 6) AS pacf
FROM p3 CROSS JOIN (SELECT unnest(range(1, 4)) AS lag)
"""


@register("pacf", oracle=_PACF_SQL)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1..3) of the daily mean value
    per event type via the unrolled Durbin-Levinson recursion on
    6dp-rounded ACF inputs."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        pacf,
    )

    ev = _ev(spark, sf_dir)
    return pacf(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


_HAAR_ENERGY_SQL = """
WITH d AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT * FROM (
    SELECT key, x,
      row_number() OVER (PARTITION BY key ORDER BY b) - 1 AS t
    FROM d
  ) WHERE t < 28
), l1 AS (
  SELECT key, CAST(floor(t / 2) AS BIGINT) AS p,
    sum(x) AS a1,
    sum(CASE WHEN t % 2 = 0 THEN x ELSE -x END) AS d1,
    sum(x * x) AS xx, count(*) AS cnt
  FROM s GROUP BY 1, 2
), l2 AS (
  SELECT key, CAST(floor(p / 2) AS BIGINT) AS q,
    sum(a1) AS a2,
    sum(CASE WHEN p % 2 = 0 THEN a1 ELSE -a1 END) AS d2,
    sum(d1 * d1) AS d1sq, sum(xx) AS xx, sum(cnt) AS cnt
  FROM l1 GROUP BY 1, 2
), a AS (
  SELECT key, sum(cnt) AS n, sum(xx) AS et,
    sum(d1sq) / 2.0 AS ed1, sum(d2 * d2) / 4.0 AS ed2,
    sum(a2 * a2) / 4.0 AS ea2
  FROM l2 GROUP BY key
)
SELECT key AS event_type, CAST(n AS BIGINT) AS n,
  round(et, 6) AS e_total, round(ed1, 6) AS e_d1,
  round(ed2, 6) AS e_d2, round(ea2, 6) AS e_a2
FROM a
"""


@register("haar_energy", oracle=_HAAR_ENERGY_SQL)
def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Haar wavelet energy split of the daily event-count
    series per event type (first 28 days): integer-exact pair sums/
    differences, dyadic divisions only, with the conservation
    e_total = e_d1 + e_d2 + e_a2 checkable in the output."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        haar_energy,
    )

    ev = _ev(spark, sf_dir)
    return haar_energy(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


_FORECAST_EVAL_SQL = """
WITH d AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    avg(CAST(value AS DOUBLE)) AS x
  FROM events GROUP BY 1, 2
), l AS (
  SELECT key, x, lag(x, 1) OVER wk AS f1, lag(x, 7) OVER wk AS fs
  FROM d WINDOW wk AS (PARTITION BY key ORDER BY b)
), e AS (
  SELECT * FROM l WHERE f1 IS NOT NULL AND fs IS NOT NULL
)
SELECT key AS event_type, CAST(count(*) AS BIGINT) AS n_eval,
  round(avg(abs(x - f1)), 6) AS mae_naive,
  round(sqrt(avg(abs(x - f1) * abs(x - f1))), 6) AS rmse_naive,
  round(avg(2.0 * abs(x - f1) / (abs(x) + abs(f1))), 6)
    AS smape_naive,
  round(avg(abs(x - fs)), 6) AS mae_snaive,
  round(CASE WHEN avg(abs(x - fs)) > 0
    THEN avg(abs(x - f1)) / avg(abs(x - fs)) END, 6) AS mase
FROM e GROUP BY key
"""


@register("forecast_eval", oracle=_FORECAST_EVAL_SQL)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive vs seasonal-naive forecast scorecard (MAE/RMSE/sMAPE/
    MASE) over the daily mean value per event type, both benchmarks
    evaluated on the same rows."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        forecast_eval,
    )

    ev = _ev(spark, sf_dir)
    return forecast_eval(ev, "event_type", "ts", "value", season=7) \
        .withColumnRenamed("key", "event_type")


def _huber_oracle_sql(c: float = 50.0, iters: int = 5) -> str:
    """Unrolled grouped IRLS: one MATERIALIZED CTE per step, each
    re-deriving the weights at the previous grid point."""
    steps = [
        "m0 AS MATERIALIZED (SELECT g, count(*) AS n,"
        " floor(avg(v) * 1e6 + 0.5) / 1e6 AS mu FROM src GROUP BY g)"
    ]
    for k in range(1, iters + 1):
        steps.append(f"""
m{k} AS MATERIALIZED (
  SELECT s.g, count(*) AS n,
    floor(sum((CASE WHEN v = mu THEN 1.0
        ELSE least(1.0, {c} / abs(v - mu)) END) * v)
      / sum(CASE WHEN v = mu THEN 1.0
        ELSE least(1.0, {c} / abs(v - mu)) END) * 1e6 + 0.5) / 1e6
      AS mu
  FROM src s JOIN m{k - 1} mm ON s.g = mm.g GROUP BY s.g
)""")
    return f"""
WITH src AS MATERIALIZED (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
),
{",".join(steps)},
dw AS (
  SELECT s.g, count(*) FILTER (abs(v - mm.mu) > {c}) AS nd
  FROM src s JOIN m{iters} mm ON s.g = mm.g GROUP BY s.g
)
SELECT f.g AS event_type, CAST(f.n AS BIGINT) AS n, f.mu AS mu,
  m0.mu AS plain_mean, CAST(dw.nd AS BIGINT) AS n_downweighted
FROM m{iters} f JOIN m0 ON f.g = m0.g JOIN dw ON f.g = dw.g
"""


@register("huber_mean", oracle=_huber_oracle_sql())
def q_huber_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust location of value per event type (c=50, 5 IRLS
    steps, iterates on the 1e-6 grid so both engines walk the same
    trajectory), alongside the plain mean and the count of
    downweighted tail rows."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        huber_mean,
    )

    return huber_mean(
        _ev(spark, sf_dir), "value", ["event_type"], c=50.0, iters=5
    )


_ADAMIC_ADAR_SQL = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS n, l_partkey AS f FROM lineitem
), d AS (
  SELECT f, count(*) AS deg FROM e GROUP BY f
  HAVING count(*) >= 2 AND count(*) <= 1000
)
SELECT a.n AS node_a, b.n AS node_b,
  CAST(count(*) AS BIGINT) AS common,
  round(sum(1.0 / ln(CAST(deg AS DOUBLE))), 6) AS aa
FROM e a JOIN e b ON a.f = b.f AND a.n < b.n JOIN d ON d.f = a.f
GROUP BY 1, 2
"""


@register("adamic_adar", oracle=_ADAMIC_ADAR_SQL)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar supplier-overlap link prediction on the bipartite
    supplier-part graph from lineitem: pairs keyed by shared part
    (never all-pairs), rare parts weighted 1/ln(deg), hub cap
    max_deg=1000 as the scale lever (no-op at fixture degree)."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        adamic_adar,
    )

    li = _t(spark, sf_dir, "lineitem")
    return adamic_adar(
        li, "l_suppkey", "l_partkey", min_common=1, max_deg=1000
    )


_LEVENSHTEIN_LINK_SQL = """
WITH n AS (
  SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk
  FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


@register("levenshtein_link", oracle=_LEVENSHTEIN_LINK_SQL)
def q_levenshtein_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact edit-distance linkage over distinct part names:
    blocking key = last token (the noun), pairs kept at levenshtein
    <= 4 — the built-in DP distance replays verbatim in DuckDB."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        levenshtein_link,
    )

    part = _t(spark, sf_dir, "part")
    blk = F.element_at(F.split(F.col("p_name"), " "), -1)
    return levenshtein_link(part, "p_name", blk, max_dist=4)


_BLOOM_FILTER_SQL = """
-- Same md5 cells (row:key -> first 8 hex digits mod 2048), same
-- all-rows-set membership rule.
WITH cust AS (
  SELECT CAST(c_custkey AS VARCHAR) AS k,
    c_mktsegment = 'BUILDING' AS is_member
  FROM customer
), bits AS (
  SELECT DISTINCT r.r AS row,
    CAST(CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || k),
      1, 8)) AS BIGINT) % 2048 AS INTEGER) AS bucket
  FROM cust CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) r
  WHERE is_member
), probes AS (
  SELECT k, r.r AS row,
    CAST(CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || k),
      1, 8)) AS BIGINT) % 2048 AS INTEGER) AS bucket
  FROM cust CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) r
), probed AS (
  SELECT p.k,
    count(b.row) = 3 AS maybe
  FROM probes p LEFT JOIN bits b
    ON p.row = b.row AND p.bucket = b.bucket
  GROUP BY p.k
), j AS (
  SELECT probed.k, maybe, is_member FROM probed JOIN cust USING (k)
)
SELECT CAST(count(*) AS BIGINT) AS n_probes,
  CAST(count(*) FILTER (is_member) AS BIGINT) AS n_members,
  CAST(count(*) FILTER (maybe) AS BIGINT) AS n_maybe,
  CAST(count(*) FILTER (maybe AND NOT is_member) AS BIGINT)
    AS n_false_pos,
  CAST(count(*) FILTER (NOT maybe AND is_member) AS BIGINT)
    AS n_missed,
  round(CAST(count(*) FILTER (maybe AND NOT is_member) AS DOUBLE)
    / CAST(count(*) FILTER (NOT is_member) AS DOUBLE), 6) AS fp_rate
FROM j
"""


@register("bloom_filter", oracle=_BLOOM_FILTER_SQL)
def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Bloom filter with md5-derived cells (the same
    engine-replayable hashing as cms_counts): index the BUILDING-
    segment customer keys, probe ALL customer keys -> single row with
    member recall (always total — no false negatives by construction)
    and the measured false-positive count/rate."""
    from from_superset_to_clickhouse_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("k"),
        (F.col("c_mktsegment") == "BUILDING").alias("is_member"),
    )
    members = cust.filter("is_member")
    bits = bloom_build(members, "k", width=2048, depth=3)
    probed = bloom_probe(bits, cust, "k", width=2048, depth=3)
    j = probed.join(cust, probed.key == cust.k)
    fp = (F.col("maybe") & ~F.col("is_member")).cast("long")
    miss = (~F.col("maybe") & F.col("is_member")).cast("long")
    agg = j.agg(
        F.count("*").alias("n_probes"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum(F.col("maybe").cast("long")).alias("n_maybe"),
        F.sum(fp).alias("n_false_pos"),
        F.sum(miss).alias("n_missed"),
    )
    return agg.select(
        "n_probes",
        "n_members",
        "n_maybe",
        "n_false_pos",
        "n_missed",
        F.round(
            F.col("n_false_pos").cast("double")
            / (F.col("n_probes") - F.col("n_members")).cast("double"),
            6,
        ).alias("fp_rate"),
    )


_HOLT_WINTERS_SQL = """
-- Same init (l0 = left-fold mean of the first season, s_i = x_i-l0),
-- same expanded l'/b'/s' arithmetic with binary-exact 0.5/0.25
-- constants; accumulator is the 10-list [l, b, s0..s6, t] prepended
-- to the series so list_reduce starts from the init state.
WITH src AS (
  SELECT event_type, ts,
    CAST(value AS DOUBLE)
      + 10.0 * CAST(date_part('day', ts) % 7 AS DOUBLE) AS value
  FROM events
), b AS (
  SELECT event_type AS key,
    time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    avg(value) AS xbar
  FROM src GROUP BY 1, 2
), s AS (
  SELECT key, list(xbar ORDER BY bucket_ts) AS xs FROM b GROUP BY key
), ini AS (
  SELECT key, xs, len(xs) AS n,
    list_reduce(list_slice(xs, 1, 7), (a, e) -> a + e) / 7.0 AS l0
  FROM s
), f AS (
  SELECT key, n,
    list_reduce(
      [list_value(l0, CAST(0.0 AS DOUBLE))
         || list_transform(list_slice(xs, 1, 7), x -> x - l0)
         || list_value(CAST(7.0 AS DOUBLE))]
      || list_transform(list_slice(xs, 8, len(xs)),
                        x -> [CAST(x AS DOUBLE)]),
      (acc, e) -> list_value(
        0.5 * (e[1] - acc[3 + (CAST(acc[10] AS INTEGER) % 7)])
          + 0.5 * (acc[1] + acc[2]),
        0.25 * ((0.5 * (e[1] - acc[3 + (CAST(acc[10] AS INTEGER) % 7)])
          + 0.5 * (acc[1] + acc[2])) - acc[1]) + 0.75 * acc[2])
      || list_transform(list_slice(acc, 3, 9), (v, i) ->
        CASE WHEN i - 1 = CAST(acc[10] AS INTEGER) % 7
          THEN 0.25 * (e[1]
            - (0.5 * (e[1] - acc[3 + (CAST(acc[10] AS INTEGER) % 7)])
               + 0.5 * (acc[1] + acc[2])))
            + 0.75 * v
          ELSE v END)
      || list_value(acc[10] + 1.0)
    ) AS st
  FROM ini
)
SELECT key AS event_type, CAST(n AS INTEGER) AS n_buckets,
  round(st[1], 6) AS level, round(st[2], 6) AS trend,
  round(st[3 + (CAST(st[10] AS INTEGER) % 7)], 6) AS s_next,
  round(st[1] + st[2] + st[3 + (CAST(st[10] AS INTEGER) % 7)], 6)
    AS forecast
FROM f
"""


@register("holt_winters", oracle=_HOLT_WINTERS_SQL)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (period 7) over the daily mean value per
    event type with a planted weekly component (10·(day%7)); one
    codegen fold, oracle replays the identical trajectory via a
    DuckDB list accumulator."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        holt_winters,
    )

    ev = _ev(spark, sf_dir).withColumn(
        "value",
        F.col("value")
        + 10.0 * (F.dayofmonth("ts") % 7).cast("double"),
    )
    return holt_winters(ev, "event_type", "ts", "value", period=7) \
        .withColumnRenamed("key", "event_type")


_AUDIO_VAD_SQL = """
-- Planted contract: A=(id%5+1)*1000 (energy >> threshold), burst
-- B=(id%4+1)*4 windows, gap Z=(id%3+1)*2 windows, G=id%3+2 bursts,
-- layout Z + G*(B+Z) windows of 64 frames.
WITH ids AS (
  SELECT doc_id AS media_id,
    (doc_id % 4 + 1) * 4 AS bw,
    (doc_id % 3 + 1) * 2 AS zw,
    doc_id % 3 + 2 AS g
  FROM documents
), c AS (
  SELECT media_id, bw, zw, g,
    zw + g * (bw + zw) AS nw, g * bw AS nv
  FROM ids
)
SELECT media_id,
  CAST(nw AS INTEGER) AS n_windows,
  CAST(nv AS INTEGER) AS n_voiced,
  CAST(g AS INTEGER) AS n_segments,
  CAST(zw * 64 AS INTEGER) AS first_voiced_frame,
  CAST((zw + g * bw + (g - 1) * zw) * 64 - 1 AS INTEGER)
    AS last_voiced_frame,
  round(CAST(nv AS DOUBLE) / CAST(nw AS DOUBLE), 6) AS voiced_ratio
FROM c
"""


@register("audio_vad", oracle=_AUDIO_VAD_SQL)
def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL energy-based voice-activity detection on decoded PCM:
    window-aligned speech bursts planted in silence (burst/gap/count
    all id-derived), so the VAD must actually decode samples, window
    them, threshold energy and merge runs — every output scalar has
    an arithmetic closed form the oracle computes from doc_id."""
    clips = mm.synthesize_vad_clips(_docs(spark, sf_dir), "doc_id")
    return mm.audio_vad(clips, window=64, energy_threshold=100.0)


_DIVERSITY_SQL = """
WITH cells AS (
  SELECT event_type AS g, user_id AS u, count(*) AS c
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT g, sum(c) AS n FROM cells GROUP BY g),
j AS (
  SELECT cells.g, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p, n
  FROM cells JOIN tot ON cells.g = tot.g
), a AS (
  SELECT g, max(n) AS n, count(*) AS k,
    sum(-p * ln(p)) AS h, sum(p * p) AS simp
  FROM j GROUP BY g
)
SELECT g AS event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
  round(h, 6) AS shannon_h, round(simp, 6) AS simpson,
  round(CASE WHEN k > 1 THEN h / ln(CAST(k AS DOUBLE)) END, 6)
    AS evenness
FROM a
"""


@register("diversity", oracle=_DIVERSITY_SQL)
def q_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon/Simpson audience diversity of the user distribution
    per event type — ClickHouse ``entropy`` parity plus Simpson
    concentration and evenness."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        diversity_index,
    )

    ev = _ev(spark, sf_dir)
    return diversity_index(ev, "event_type", "user_id") \
        .withColumnRenamed("grp", "event_type")


_GUMBEL_SQL = """
WITH b AS (
  SELECT event_type AS key, date_trunc('day', ts) AS d,
    max(CAST(value AS DOUBLE)) AS m
  FROM events GROUP BY 1, 2
), gm AS (
  SELECT key, count(*) AS n,
    floor(avg(m) * 1048576.0) / 1048576.0 AS mu,
    max(m) AS seen
  FROM b GROUP BY key
), ss AS (
  SELECT b.key,
    sum(floor((m - mu) * (m - mu) * 1048576.0)) / 1048576.0 AS ssd
  FROM b JOIN gm ON b.key = gm.key GROUP BY b.key
), p AS (
  SELECT gm.key, n, mu, seen,
    sqrt(ssd / (CAST(n AS DOUBLE) - 1.0)) AS s
  FROM gm JOIN ss ON gm.key = ss.key
), q AS (
  SELECT key, n, mu, seen, s,
    s * sqrt(6.0) / pi() AS beta
  FROM p
)
SELECT key AS event_type, CAST(n AS BIGINT) AS n, mu AS max_mean,
  round(s, 6) AS max_std, round(beta, 6) AS beta,
  round(mu - 0.5772156649015329 * beta, 6) AS mu,
  round(1.0 - exp(-exp(-((seen - (mu - 0.5772156649015329 * beta))
    / beta))), 6) AS p_exceed_seen
FROM q
"""


@register("gumbel", oracle=_GUMBEL_SQL)
def q_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on daily value maxima per event type:
    method-of-moments beta/mu and the fitted probability a future
    daily max exceeds the largest observed."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        gumbel_fit,
    )

    return gumbel_fit(_ev(spark, sf_dir), "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


_BASKET_RULES_SQL = """
WITH i AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), tot AS (SELECT count(DISTINCT bk) AS nb FROM i),
ic AS (SELECT it, count(*) AS c FROM i GROUP BY it),
pairs AS (
  SELECT a.it AS item_a, b.it AS item_b, count(*) AS pc
  FROM i a JOIN i b ON a.bk = b.bk AND a.it < b.it
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT item_a, item_b, CAST(pc AS BIGINT) AS pair_cnt,
  round(CAST(pc AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS support,
  round(CAST(pc AS DOUBLE) / CAST(ca.c AS DOUBLE), 6) AS conf_ab,
  round(CAST(pc AS DOUBLE) / CAST(cb.c AS DOUBLE), 6) AS conf_ba,
  round(CAST(pc AS DOUBLE) * CAST(nb AS DOUBLE)
    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
FROM pairs
JOIN ic ca ON pairs.item_a = ca.it
JOIN ic cb ON pairs.item_b = cb.it
CROSS JOIN tot
"""


@register("basket_rules", oracle=_BASKET_RULES_SQL)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order->part baskets from
    lineitem: pair expansion keyed by order (never catalog-wide),
    support/confidence/lift on pairs seen in >= 2 baskets."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        basket_rules,
    )

    li = _t(spark, sf_dir, "lineitem")
    return basket_rules(li, "l_orderkey", "l_partkey", min_pair_count=2)


_RFM_SQL = """
WITH per_c AS (
  SELECT o_custkey AS customer, max(o_orderdate) AS last_o,
    count(*) AS frequency,
    CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1048576.0)
      AS BIGINT)) AS DOUBLE) / 1048576.0 AS monetary
  FROM orders GROUP BY 1
), mx AS (SELECT max(last_o) AS m FROM per_c),
r AS (
  SELECT customer,
    date_diff('day', last_o, m) AS recency_days,
    frequency, monetary
  FROM per_c CROSS JOIN mx
)
SELECT customer, CAST(recency_days AS INTEGER) AS recency_days,
  CAST(frequency AS BIGINT) AS frequency,
  round(monetary, 6) AS monetary,
  CAST(ntile(5) OVER wr AS INTEGER) AS r_score,
  CAST(ntile(5) OVER wf AS INTEGER) AS f_score,
  CAST(ntile(5) OVER wm AS INTEGER) AS m_score,
  CAST(ntile(5) OVER wr AS VARCHAR)
    || CAST(ntile(5) OVER wf AS VARCHAR)
    || CAST(ntile(5) OVER wm AS VARCHAR) AS rfm
FROM r
WINDOW wr AS (ORDER BY recency_days DESC, customer),
       wf AS (ORDER BY frequency ASC, customer),
       wm AS (ORDER BY monetary ASC, customer)
"""


@register("rfm_segments", oracle=_RFM_SQL)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of customers from orders: recency vs corpus
    max date, ntile(5) scores with the customer key as tiebreak,
    monetary on the exact 2^-20 grid -> engine-stable tiles."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        rfm_segments,
    )

    o = _t(spark, sf_dir, "orders")
    return rfm_segments(o, "o_custkey", "o_orderdate", "o_totalprice")


_ABC_SQL = """
WITH per_i AS (
  SELECT l_partkey AS item,
    CAST(sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
      * (1.0 - CAST(l_discount AS DOUBLE)) * 1048576.0) AS BIGINT))
      AS BIGINT) AS qr
  FROM lineitem GROUP BY 1
), tot AS (SELECT CAST(sum(qr) AS BIGINT) AS qt FROM per_i),
r AS (
  SELECT item, qr, qt,
    CAST(sum(qr) OVER (ORDER BY qr DESC, item) AS BIGINT) AS cum
  FROM per_i CROSS JOIN tot
)
SELECT item AS l_partkey,
  round(CAST(qr AS DOUBLE) / 1048576.0, 6) AS revenue,
  round(CAST(qr AS DOUBLE) / CAST(qt AS DOUBLE), 6) AS revenue_share,
  round(CAST(cum AS DOUBLE) / CAST(qt AS DOUBLE), 6) AS cum_share,
  CASE WHEN CAST(cum AS DOUBLE) / CAST(qt AS DOUBLE) <= 0.8 THEN 'A'
       WHEN CAST(cum AS DOUBLE) / CAST(qt AS DOUBLE) <= 0.95 THEN 'B'
       ELSE 'C' END AS abc_class
FROM r
"""


@register("abc_analysis", oracle=_ABC_SQL)
def q_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by discounted revenue:
    exact 2^-20-grid revenue sums make the ranking and the 80/95%
    class boundaries bit-identical on both engines."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        abc_analysis,
    )

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rev_amt",
        F.col("l_extendedprice").cast("double")
        * (F.lit(1.0) - F.col("l_discount").cast("double")),
    )
    return abc_analysis(li, "l_partkey", "rev_amt") \
        .withColumnRenamed("item", "l_partkey")


_GEOHASH_SQL = """
-- Same 15-bit quantization, longitude-first interleave, base32 map.
WITH pts AS (
  SELECT c_custkey AS id,
    ((c_custkey * 7919) % 12000) / 100.0 - 60.0 AS lat,
    ((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS lon
  FROM customer
), codes AS (
  SELECT id, lat, lon,
    least(CAST(floor((lat + 90.0) / 180.0 * 32768.0) AS BIGINT),
          32767) AS latc,
    least(CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT),
          32767) AS lonc
  FROM pts
), bits AS (
  SELECT id, lat, lon,
    CAST(sum(((lonc >> (14 - i)) & 1) * (CAST(1 AS BIGINT)
        << (29 - 2 * i))
      + ((latc >> (14 - i)) & 1) * (CAST(1 AS BIGINT)
        << (28 - 2 * i))) AS BIGINT) AS gh_bits
  FROM codes CROSS JOIN (SELECT unnest(range(0, 15)) AS i)
  GROUP BY 1, 2, 3
)
SELECT id, lat, lon, gh_bits,
  substr('0123456789bcdefghjkmnpqrstuvwxyz',
    CAST((gh_bits >> 25) & 31 AS INTEGER) + 1, 1)
  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
    CAST((gh_bits >> 20) & 31 AS INTEGER) + 1, 1)
  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
    CAST((gh_bits >> 15) & 31 AS INTEGER) + 1, 1)
  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
    CAST((gh_bits >> 10) & 31 AS INTEGER) + 1, 1)
  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
    CAST((gh_bits >> 5) & 31 AS INTEGER) + 1, 1)
  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
    CAST(gh_bits & 31 AS INTEGER) + 1, 1) AS geohash
FROM bits
"""


@register("geohash", oracle=_GEOHASH_SQL)
def q_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-6 cell ids over the synthesized customer coordinates
    (same modular derivation as geo_neighbors): pure integer shift/
    mask interleave + base32 substring lookups — the exact cell
    assignment replays verbatim in SQL."""
    from from_superset_to_clickhouse_spark.operators.geo import (
        geohash_encode,
    )

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 7919) % 12000) / 100.0 - 60.0).alias(
            "lat"
        ),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias(
            "lon"
        ),
    )
    return geohash_encode(pts, "lat", "lon", precision=6)


_CONTROL_CHART_SQL = """
WITH b AS (
  SELECT event_type AS key, date_trunc('day', ts) AS bucket_ts,
    floor(avg(CAST(value AS DOUBLE)) * 1048576.0) / 1048576.0 AS xbar
  FROM events GROUP BY 1, 2
), gm AS (
  SELECT key, count(*) AS n,
    floor(avg(xbar) * 1048576.0) / 1048576.0 AS mu
  FROM b GROUP BY key
), ss AS (
  SELECT b.key,
    sum(floor((xbar - mu) * (xbar - mu) * 1048576.0)) / 1048576.0
      AS ssd
  FROM b JOIN gm ON b.key = gm.key GROUP BY b.key
), z AS (
  SELECT b.key, bucket_ts, xbar,
    CASE WHEN sqrt(ssd / (CAST(n AS DOUBLE) - 1.0)) > 0
      THEN (xbar - mu) / sqrt(ssd / (CAST(n AS DOUBLE) - 1.0)) END
      AS zv
  FROM b JOIN gm ON b.key = gm.key JOIN ss ON b.key = ss.key
), sided AS (
  SELECT key, bucket_ts, xbar, zv, sign(zv) AS side,
    CAST(abs(zv) > 2.0 AS INTEGER) * sign(zv) AS o2,
    CAST(abs(zv) > 1.0 AS INTEGER) * sign(zv) AS o1
  FROM z
)
SELECT key AS event_type, bucket_ts, xbar, round(zv, 6) AS z,
  abs(zv) > 3.0 AS rule1,
  (sum(CASE WHEN o2 = 1 THEN 1 ELSE 0 END)
     OVER (PARTITION BY key ORDER BY bucket_ts
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2)
  OR (sum(CASE WHEN o2 = -1 THEN 1 ELSE 0 END)
     OVER (PARTITION BY key ORDER BY bucket_ts
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2) AS rule2,
  (sum(CASE WHEN o1 = 1 THEN 1 ELSE 0 END)
     OVER (PARTITION BY key ORDER BY bucket_ts
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4)
  OR (sum(CASE WHEN o1 = -1 THEN 1 ELSE 0 END)
     OVER (PARTITION BY key ORDER BY bucket_ts
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4) AS rule3,
  (sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
     OVER (PARTITION BY key ORDER BY bucket_ts
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8)
  OR (sum(CASE WHEN side = -1 THEN 1 ELSE 0 END)
     OVER (PARTITION BY key ORDER BY bucket_ts
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8) AS rule4
FROM sided
"""


@register("control_chart", oracle=_CONTROL_CHART_SQL)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart x-bar chart with Western-Electric run rules over the
    daily mean value per event type: grid-quantized center/sigma so
    every z and rule flag is engine-identical."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        control_chart,
    )

    ev = _ev(spark, sf_dir)
    return control_chart(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


_ASOF_TOLERANCE_SQL = """
-- DuckDB ASOF is backward-only: negate the time axis so "largest
-- right <= left" becomes "earliest order on/after the event", then
-- apply the 5-day tolerance as a CASE on the matched date.
WITH r AS (
  SELECT o_custkey AS k, CAST(o_orderdate AS TIMESTAMP) AS ots,
    arg_max(o_totalprice, o_orderkey) AS tp
  FROM orders GROUP BY 1, 2
), rn AS (
  SELECT k, ots, -epoch_us(ots) AS nts, tp FROM r
), e AS (
  SELECT event_id, user_id, ts, -epoch_us(ts) AS nts FROM events
)
SELECT e.event_id, e.user_id,
  CASE WHEN rn.ots IS NOT NULL
    AND epoch_us(rn.ots) - epoch_us(e.ts)
      <= 5 * 86400 * CAST(1000000 AS BIGINT)
    THEN rn.tp END AS next_totalprice
FROM e ASOF LEFT JOIN rn
  ON e.user_id = rn.k AND e.nts >= rn.nts
"""


@register("asof_tolerance", oracle=_ASOF_TOLERANCE_SQL)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (pandas merge_asof parity):
    each event picks the customer's EARLIEST order on/after the
    event, nulled when more than 5 days out; the right side is
    deduped to one row per (customer, date) first so ties cannot
    depend on sort stability."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        asof_join_directed,
    )

    ev = _ev(spark, sf_dir).select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    right = (
        o.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ots"),
        )
        .agg(
            F.max(
                F.struct(F.col("o_orderkey"), F.col("o_totalprice"))
            )["o_totalprice"].alias("tp")
        )
    )
    out = asof_join_directed(
        ev, right, "user_id", "ts", "ots", ["tp"],
        direction="forward", tolerance_seconds=5 * 86400,
    )
    return out.select(
        "event_id", "user_id", F.col("asof_tp").alias("next_totalprice")
    )


_COLLOCATIONS_SQL = """
-- Same tokenizer, lead-window bigrams, contingency arithmetic with
-- zero cells skipped.
WITH tok AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), flat AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t FROM tok
), f AS (
  SELECT doc_id, pos, t[pos] AS w FROM flat
), bi AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM f
), bi2 AS (SELECT w1, w2 FROM bi WHERE w2 IS NOT NULL),
pairs_all AS (
  SELECT w1, w2, count(*) AS n_pair FROM bi2 GROUP BY 1, 2
), c1 AS (SELECT w1, count(*) AS c1 FROM bi2 GROUP BY w1),
c2 AS (SELECT w2, count(*) AS c2 FROM bi2 GROUP BY w2),
tot AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS n FROM pairs_all),
j AS (
  SELECT p.w1, p.w2, p.n_pair,
    CAST(p.n_pair AS DOUBLE) AS o11,
    CAST(c1.c1 AS DOUBLE) - p.n_pair AS o12,
    CAST(c2.c2 AS DOUBLE) - p.n_pair AS o21,
    n - c1.c1 - c2.c2 + p.n_pair AS o22,
    CAST(c1.c1 AS DOUBLE) * c2.c2 / n AS e11,
    CAST(c1.c1 AS DOUBLE) * (n - c2.c2) / n AS e12,
    (n - c1.c1) * CAST(c2.c2 AS DOUBLE) / n AS e21,
    (n - c1.c1) * (n - c2.c2) / n AS e22
  FROM pairs_all p JOIN c1 USING (w1) JOIN c2 USING (w2)
  CROSS JOIN tot
  WHERE p.n_pair >= 5
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
  round(2.0 * (
    (CASE WHEN o11 > 0 THEN o11 * ln(o11 / e11) ELSE 0.0 END)
    + (CASE WHEN o12 > 0 THEN o12 * ln(o12 / e12) ELSE 0.0 END)
    + (CASE WHEN o21 > 0 THEN o21 * ln(o21 / e21) ELSE 0.0 END)
    + (CASE WHEN o22 > 0 THEN o22 * ln(o22 / e22) ELSE 0.0 END)), 6)
    AS g2,
  round((o11 - e11) / sqrt(o11), 6) AS t_score
FROM j
"""


@register("collocations", oracle=_COLLOCATIONS_SQL)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G2 log-likelihood + t-score collocations over ordered
    adjacent bigrams (min support 5) — the significance-tested
    complement of pmi_pairs, same tokenizer."""
    from from_superset_to_clickhouse_spark.operators.text import (
        collocations_g2,
    )

    return collocations_g2(_docs(spark, sf_dir), "doc_id", "text")


_PNG_PALETTE_SQL = """
-- Planted-pixel enumeration: pixel (x,y) channel c maps index
-- j=(x+y+id)%n through the id-derived palette; byte position is
-- (y*w + x)*3 + c.
WITH dims AS (
  SELECT doc_id, doc_id % 12 + 2 AS w, doc_id % 8 + 2 AS h,
    doc_id % 4 + 2 AS n
  FROM documents
), xs AS (
  SELECT doc_id, w, h, n, unnest(range(0, w)) AS x FROM dims
), ys AS (
  SELECT doc_id, w, h, n, x, unnest(range(0, h)) AS y FROM xs
), px AS (
  SELECT doc_id, w, h, x, y, (x + y + doc_id) % n AS j, n,
    unnest(range(0, 3)) AS c
  FROM ys
), v AS (
  SELECT doc_id, w, h, (y * w + x) * 3 + c AS p,
    CASE c WHEN 0 THEN (31 * doc_id + 57 * j) % 256
           WHEN 1 THEN (17 * doc_id + 23 * j) % 256
           ELSE (7 * doc_id + 11 * j) % 256 END AS val
  FROM px
)
SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format,
  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels, CAST(count(*) AS INTEGER) AS n_px,
  CAST(sum(val) AS BIGINT) AS px_sum,
  CAST(min(val) AS INTEGER) AS min_px,
  CAST(max(val) AS INTEGER) AS max_px,
  CAST(sum(p * val) AS BIGINT) AS pos_sum
FROM v GROUP BY doc_id
"""


@register("png_palette", oracle=_PNG_PALETTE_SQL)
def q_png_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL indexed-color PNG decode: one type-3 PNG per document
    (id-derived PLTE of 2-5 colors, diagonal (x+y+id)%n index
    pattern, per-id filter type over the 1-byte index samples), pixel
    statistics recovered by actually inflating, unfiltering and
    mapping indices through the palette. The oracle enumerates the
    planted pixels arithmetically — pos_sum is palette-mapping and
    row-order sensitive. Narrows the last PNG color-type gap."""
    imgs = mm.synthesize_palette_pngs(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px", "pos_sum",
    )


_KNN_EVAL_SQL = f"""
WITH pairs AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
    {_DOT.format(a='q.embedding', b='n.embedding')}
    / ({_NORM.format(a='q.embedding')}
       * {_NORM.format(a='n.embedding')}) AS sim
  FROM embeddings n JOIN embeddings q ON n.vec_id <> q.vec_id
), r AS (
  SELECT q_id, n_id,
    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)
      AS rank
  FROM pairs
), v AS (
  SELECT r.q_id, CAST(n.label AS INTEGER) AS nl, count(*) AS c
  FROM r JOIN embeddings n ON r.n_id = n.vec_id
  WHERE r.rank <= 5 GROUP BY 1, 2
), p AS (
  SELECT q_id,
    (max({{'c': c, 'neg': -nl, 'lab': nl}})).lab AS pred
  FROM v GROUP BY q_id
), j AS (
  SELECT p.q_id, p.pred, CAST(q.label AS INTEGER) AS tl
  FROM p JOIN embeddings q ON p.q_id = q.vec_id
)
SELECT tl AS label, CAST(count(*) AS BIGINT) AS n_eval,
  CAST(count(*) FILTER (pred = tl) AS BIGINT) AS n_correct,
  round(CAST(count(*) FILTER (pred = tl) AS DOUBLE)
    / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM j GROUP BY tl
"""


@register("knn_eval", oracle=_KNN_EVAL_SQL)
def q_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN classification accuracy per class over the
    embeddings table — majority vote with smallest-label tiebreak on
    exact cosine neighbors; the 'are these embeddings any good'
    probe."""
    from from_superset_to_clickhouse_spark.operators.similarity import (
        knn_classify_eval,
    )

    return knn_classify_eval(_t(spark, sf_dir, "embeddings"), k=5)


_ENCODING_STATS_SQL = """
WITH s AS (
  SELECT event_type AS key, CAST(user_id AS BIGINT) AS v,
    lag(CAST(user_id AS BIGINT)) OVER (
      PARTITION BY event_type ORDER BY ts, event_id) AS pv
  FROM events
), z AS (
  SELECT key, v, pv,
    CASE WHEN v - pv >= 0 THEN 2 * (v - pv)
         ELSE -2 * (v - pv) - 1 END AS zz
  FROM s
), b AS (
  SELECT key, v, pv,
    CASE WHEN zz < 128 THEN 1 WHEN zz < 16384 THEN 2
         WHEN zz < 2097152 THEN 3 WHEN zz < 268435456 THEN 4
         WHEN zz < 34359738368 THEN 5 WHEN zz < 4398046511104 THEN 6
         WHEN zz < 562949953421312 THEN 7
         WHEN zz < 72057594037927936 THEN 8 ELSE 9 END AS vb
  FROM z
)
SELECT key AS event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
    AS BIGINT) AS rle_runs,
  CAST(sum(CASE WHEN pv IS NOT NULL THEN vb ELSE 0 END) + 8
    AS BIGINT) AS varint_bytes,
  CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
  round(CAST(sum(CASE WHEN pv IS NOT NULL THEN vb ELSE 0 END) + 8
    AS DOUBLE) / (count(*) * 8.0), 6) AS ratio
FROM b GROUP BY key
"""


@register("encoding_stats", oracle=_ENCODING_STATS_SQL)
def q_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding cost model of the user_id column per event
    type under the (ts, event_id) sort: RLE run count and
    delta+zigzag+LEB128 varint bytes vs raw 8-byte storage — the
    sort-key-selection analytic, all integer-exact."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        encoding_stats,
    )

    ev = _ev(spark, sf_dir)
    return encoding_stats(ev, "event_type", "ts", "user_id", "event_id") \
        .withColumnRenamed("key", "event_type")


_KAPLAN_MEIER_SQL = """
WITH life0 AS (
  SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS f,
    CAST(max(o_orderdate) AS DATE) AS l
  FROM orders GROUP BY 1
), mx AS (SELECT max(l) AS m FROM life0),
life AS (
  SELECT date_diff('day', f, l) AS t_days,
    CASE WHEN date_diff('day', l, m) > 60 THEN 1 ELSE 0 END AS dead
  FROM life0 CROSS JOIN mx
), pt AS (
  SELECT t_days, count(*) AS n_t, sum(dead) AS d
  FROM life GROUP BY 1
), c AS (
  SELECT t_days, d,
    sum(n_t) OVER (ORDER BY t_days
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
  FROM pt
)
SELECT CAST(t_days AS INTEGER) AS t_days,
  CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
  round(exp(sum(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)))
    OVER (ORDER BY t_days
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
    AS survival
FROM c WHERE d > 0
"""


@register("kaplan_meier", oracle=_KAPLAN_MEIER_SQL)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-retention curve over order histories:
    lifetime = last-first order day, censored when the last order is
    within 60 days of the corpus end (the events fixture's users are
    all active to the end — no churn signal there); S(t) as an
    ordered exp-cumsum-ln product."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        kaplan_meier,
    )

    return kaplan_meier(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderdate",
        censor_horizon_days=60,
    )


_CUPED_SQL = f"""
WITH per_u AS (
  SELECT user_id AS u, user_id % 2 AS arm,
    {_fxp_sum_sql("CASE WHEN date_part('day', ts) <= 15"
                  " THEN CAST(value AS DOUBLE) ELSE 0.0 END")} AS x,
    {_fxp_sum_sql("CASE WHEN date_part('day', ts) > 15"
                  " THEN CAST(value AS DOUBLE) ELSE 0.0 END")} AS y
  FROM events GROUP BY 1, 2
), g AS (
  SELECT floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM per_u
), th AS (
  SELECT sum(floor((x - mx) * (y - my) * 1048576.0))
       / sum(floor((x - mx) * (x - mx) * 1048576.0)) AS theta
  FROM per_u CROSS JOIN g
), adj AS (
  SELECT arm, y, y - theta * (x - mx) AS yadj
  FROM per_u CROSS JOIN g CROSS JOIN th
), gm AS (
  SELECT arm, count(*) AS n,
    floor(avg(y) * 1048576.0) / 1048576.0 AS amy,
    floor(avg(yadj) * 1048576.0) / 1048576.0 AS amya
  FROM adj GROUP BY arm
), fin AS (
  SELECT adj.arm, n, amy, amya,
    sum(floor((y - amy) * (y - amy) * 1048576.0)) / 1048576.0 AS vy,
    sum(floor((yadj - amya) * (yadj - amya) * 1048576.0)) / 1048576.0
      AS va
  FROM adj JOIN gm ON adj.arm = gm.arm GROUP BY 1, 2, 3, 4
)
SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n,
  amy AS mean_y, amya AS mean_y_adj,
  round(vy / (CAST(n AS DOUBLE) - 1.0), 6) AS var_y,
  round(va / (CAST(n AS DOUBLE) - 1.0), 6) AS var_y_adj,
  round((1.0 - va / vy) * 100.0, 6) AS var_reduction_pct
FROM fin
"""


@register("cuped", oracle=_CUPED_SQL)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction on a synthetic experiment: per-user
    pre metric (fixed-point sum of value, days 1-15) adjusts the post
    metric (days 16+), arm = user_id parity; pooled theta and all
    variances on the 2^-20 grid."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cuped_adjust,
    )

    ev = _ev(spark, sf_dir)
    per_u = ev.groupBy(
        F.col("user_id").alias("u"), (F.col("user_id") % 2).alias("arm")
    ).agg(
        _fxp_sum(
            F.when(F.dayofmonth("ts") <= 15, F.col("value")).otherwise(
                F.lit(0.0)
            )
        ).alias("x"),
        _fxp_sum(
            F.when(F.dayofmonth("ts") > 15, F.col("value")).otherwise(
                F.lit(0.0)
            )
        ).alias("y"),
    )
    return cuped_adjust(per_u, "u", "arm", "x", "y")


_CLOSENESS_SQL = r"""
WITH RECURSIVE e AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT dst AS a, src AS b FROM e
), bfs(pv, node, hops) AS (
  SELECT p, p, 0
  FROM (SELECT CAST(unnest([2, 4, 6, 8, 10]) AS BIGINT) AS p)
  UNION
  SELECT b.pv, s.b, b.hops + 1
  FROM bfs b JOIN sym s ON s.a = b.node
  WHERE b.hops < 4
), d AS (
  SELECT pv, node, MIN(hops) AS hops FROM bfs GROUP BY 1, 2
)
SELECT CAST(node AS BIGINT) AS node,
  CAST(count(*) AS BIGINT) AS n_reached,
  CAST(sum(hops) AS BIGINT) AS sum_hops,
  round(CASE WHEN sum(hops) > 0
    THEN CAST(count(*) AS DOUBLE) / CAST(sum(hops) AS DOUBLE) END, 6)
    AS closeness,
  round(sum(CASE WHEN hops > 0 THEN 1.0 / CAST(hops AS DOUBLE)
    ELSE 0.0 END), 6) AS harmonic
FROM d GROUP BY node
"""


@register("closeness", oracle=_CLOSENESS_SQL)
def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-based closeness/harmonic centrality over the customer-
    supplier trade graph (pivots = customers 1-5, 4-hop truncation):
    the scalable approximation of a metric whose exact form is
    O(V*E); oracle is a recursive-CTE BFS from all five seeds."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        closeness_from_pivots,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return closeness_from_pivots(
        edges, [2, 4, 6, 8, 10], max_hops=4
    )


_IMAGE_EQUALIZE_SQL = """
-- Planted-pixel CDF remap: cle(v) = #pixels <= v per doc, cmin =
-- cle(vmin), v' = floor((cle-cmin)/(n-cmin)*255 + 0.5); constant
-- images map to 0.
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 9 + 1 AS h
  FROM documents
), xs AS (
  SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
), px AS (
  SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
), v AS (
  SELECT doc_id, w, h, x, y,
    (doc_id + 5 * x + 7 * y) % 256 AS val
  FROM px
), vc AS (
  SELECT doc_id, val, count(*) AS c FROM v GROUP BY 1, 2
), cd AS (
  SELECT doc_id, val, c,
    sum(c) OVER (PARTITION BY doc_id ORDER BY val) AS cle
  FROM vc
), mn AS (
  SELECT doc_id, min(cle) AS cmin, sum(c) AS n FROM cd GROUP BY doc_id
), mp AS (
  SELECT cd.doc_id, val,
    CASE WHEN n = cmin THEN 0
      ELSE CAST(floor(CAST(cle - cmin AS DOUBLE)
        / CAST(n - cmin AS DOUBLE) * 255.0 + 0.5) AS BIGINT) END AS vp
  FROM cd JOIN mn ON cd.doc_id = mn.doc_id
), j AS (
  SELECT v.doc_id, w, h, (y * w + x) AS p, mp.vp
  FROM v JOIN mp ON v.doc_id = mp.doc_id AND v.val = mp.val
)
SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format,
  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS channels, CAST(count(*) AS INTEGER) AS n_px,
  CAST(sum(vp) AS BIGINT) AS px_sum,
  CAST(min(vp) AS INTEGER) AS min_px,
  CAST(max(vp) AS INTEGER) AS max_px,
  CAST(sum(p * vp) AS BIGINT) AS pos_sum
FROM j GROUP BY doc_id
"""


@register("image_equalize", oracle=_IMAGE_EQUALIZE_SQL)
def q_image_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL histogram equalization over really-decoded PNGs: the
    Adam7 fixture's planted (id+5x+7y)%256 pixels are decoded,
    CDF-remapped with the classic half-up formula, re-encoded, and
    decoded AGAIN for statistics — the oracle replays the remap from
    the planted distribution arithmetically (pos_sum is per-pixel
    mapping sensitive)."""
    imgs = mm.synthesize_adam7_images(_docs(spark, sf_dir), "doc_id")
    eq = mm.equalize_images(imgs)
    return mm.image_pixel_stats(eq).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px", "pos_sum",
    )


_AUDIO_DECIMATE_SQL = """
-- Closed form from the aligned-tone contract: after /4 decimation
-- the wave is K reps of [+A x P/4, -A x P/4] with P/4 = id%3+1.
WITH ids AS (
  SELECT doc_id AS media_id,
    (doc_id % 5 + 1) * 1000 AS a,
    doc_id % 3 + 1 AS hp,
    doc_id % 20 + 5 AS k
  FROM documents
)
SELECT media_id,
  CAST(2 * hp * k AS INTEGER) AS n_frames,
  CAST(a AS INTEGER) AS peak,
  CAST(a AS DOUBLE) AS rms,
  0.0 AS mean_sample,
  CAST(2 * k - 1 AS INTEGER) AS zero_crossings
FROM ids
"""


@register("audio_decimate", oracle=_AUDIO_DECIMATE_SQL)
def q_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sample-rate reduction: block-aligned square tones decoded,
    box-decimated by 4, re-encoded, then feature-extracted — the
    planted alignment makes every decimated statistic exact
    (n_frames = 2PK/4, peak = rms = A, crossings = 2K-1)."""
    tones = mm.synthesize_aligned_tones(
        _docs(spark, sf_dir), "doc_id", factor=4
    )
    return mm.audio_features(mm.decimate_audio(tones, factor=4))


_TEMPERATURE_MIX_SQL = """
WITH counts AS (
  SELECT lang AS source, count(*) AS n_orig FROM documents GROUP BY 1
), tot AS (
  SELECT sum(n_orig) AS n,
    sum(pow(CAST(n_orig AS DOUBLE), 0.5)) AS z
  FROM counts
), rates AS (
  SELECT source, n_orig,
    least(10000, CAST(floor(CAST(n AS DOUBLE) * 0.5
      * pow(CAST(n_orig AS DOUBLE), 0.5) / z
      / CAST(n_orig AS DOUBLE) * 10000.0) AS INTEGER)) AS rate_bp
  FROM counts CROSS JOIN tot
), tagged AS (
  SELECT d.lang AS source,
    ((d.doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 AS hbp
  FROM documents d
), kept AS (
  SELECT t.source, r.n_orig, r.rate_bp,
    sum(CASE WHEN t.hbp < r.rate_bp THEN 1 ELSE 0 END) AS n_kept
  FROM tagged t JOIN rates r ON t.source = r.source
  GROUP BY 1, 2, 3
)
SELECT source, CAST(n_orig AS BIGINT) AS n_orig, rate_bp,
  CAST(n_kept AS BIGINT) AS n_kept,
  round(CAST(n_kept AS DOUBLE) / CAST(n_orig AS DOUBLE), 6)
    AS kept_frac
FROM kept
"""


@register("temperature_mix", oracle=_TEMPERATURE_MIX_SQL)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened corpus mixing (alpha = 0.5, target half
    the corpus) over the SKEWED language distribution: small
    languages keep a higher fraction than English, membership by the
    replayable affine hash."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        temperature_mix,
    )

    return temperature_mix(
        _docs(spark, sf_dir), "doc_id", "lang",
        alpha=0.5, target_frac=0.5,
    )


_EB_SHRINK_SQL = """
WITH per AS (
  SELECT l_partkey AS key, count(*) AS n_obs,
    count(*) FILTER (l_returnflag = 'R') AS x_obs
  FROM lineitem GROUP BY 1
), src AS (
  SELECT key, n_obs, x_obs,
    CAST(x_obs AS DOUBLE) / CAST(n_obs AS DOUBLE) AS r
  FROM per WHERE n_obs > 0
), mu AS (
  SELECT count(*) AS k,
    floor(avg(r) * 1048576.0) / 1048576.0 AS mu
  FROM src
), vr AS (
  SELECT k, mu,
    sum(floor((r - mu) * (r - mu) * 1048576.0)) / 1048576.0
      / (k - 1.0) AS v
  FROM src CROSS JOIN mu GROUP BY k, mu
), pri AS (
  SELECT mu,
    CASE WHEN v > 0 AND mu * (1.0 - mu) / v - 1.0 > 0
      THEN mu * (mu * (1.0 - mu) / v - 1.0) ELSE 0.0 END AS alpha,
    CASE WHEN v > 0 AND mu * (1.0 - mu) / v - 1.0 > 0
      THEN (1.0 - mu) * (mu * (1.0 - mu) / v - 1.0)
      ELSE 0.0 END AS beta
  FROM vr
)
SELECT key AS l_partkey, CAST(n_obs AS BIGINT) AS n_obs,
  CAST(x_obs AS BIGINT) AS x_obs, round(r, 6) AS raw_rate,
  round((x_obs + alpha) / (n_obs + alpha + beta), 6) AS shrunk_rate
FROM src CROSS JOIN pri
"""


@register("eb_shrink", oracle=_EB_SHRINK_SQL)
def q_eb_shrink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates
    (l_returnflag = 'R'): method-of-moments beta prior from the rate
    distribution, posterior-mean shrunk rates — the small-sample
    ranking fix."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        eb_shrink_rates,
    )

    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("x"),
    )
    return eb_shrink_rates(per_part, "k", "n", "x") \
        .withColumnRenamed("key", "l_partkey")


_LINK_CLUSTER_SQL = """
WITH RECURSIVE n AS MATERIALIZED (
  SELECT DISTINCT p_name AS name,
    string_split(p_name, ' ')[-1] AS blk
  FROM part
), e AS MATERIALIZED (
  SELECT a.name AS na, b.name AS nb
  FROM n a JOIN n b ON a.blk = b.blk AND a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 4
), sym AS MATERIALIZED (
  SELECT na AS a, nb AS b FROM e
  UNION
  SELECT nb AS a, na AS b FROM e
), reach(s, t) AS (
  SELECT name, name FROM n
  UNION
  SELECT r.s, sym.b FROM reach r JOIN sym ON sym.a = r.t
)
SELECT s AS name, min(t) AS cluster FROM reach GROUP BY s
"""


@register("link_cluster", oracle=_LINK_CLUSTER_SQL)
def q_link_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution composition end-to-end: blocked Levenshtein
    linkage over distinct part names -> undirected edges -> pointer-
    jumping connected components -> (name, cluster = min reachable
    name). Oracle closes the same edge set with a recursive CTE."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        levenshtein_link,
    )
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
    )

    part = _t(spark, sf_dir, "part")
    blk = F.element_at(F.split(F.col("p_name"), " "), -1)
    edges = levenshtein_link(part, "p_name", blk, max_dist=4).select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    )
    names = part.select(F.col("p_name").alias("node")).distinct()
    cc = connected_components(edges, nodes=names)
    return cc.select(
        F.col("node").alias("name"), F.col("component").alias("cluster")
    )


_BINARY_SEGMENT_SQL = """
WITH src AS (
  SELECT event_type, ts,
    CAST(value AS DOUBLE)
      + CASE WHEN date_part('day', ts) >= 18 THEN 20.0 ELSE 0.0 END
      AS value
  FROM events
), b AS (
  SELECT event_type AS key, date_trunc('day', ts) AS bt,
    floor(avg(value) * 1048576.0) / 1048576.0 AS x
  FROM src GROUP BY 1, 2
), r AS (
  SELECT key, bt,
    row_number() OVER wk AS k,
    sum(x) OVER (PARTITION BY key ORDER BY bt
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    count(*) OVER (PARTITION BY key) AS n,
    sum(x) OVER (PARTITION BY key) AS s
  FROM b WINDOW wk AS (PARTITION BY key ORDER BY bt)
), st AS (
  SELECT key, bt, k, n,
    cum / k AS ml, (s - cum) / (n - k) AS mr,
    abs(cum / k - (s - cum) / (n - k))
      * sqrt(CAST(k AS DOUBLE) * (n - k) / n) AS stat
  FROM r WHERE k < n
), best AS (
  SELECT key,
    max({'s': stat, 'negk': -k, 'k': k, 'b': bt,
         'ml': round(ml, 6), 'mr': round(mr, 6), 'n': n}) AS w
  FROM st GROUP BY key
)
SELECT key AS event_type, CAST((w).n AS BIGINT) AS n,
  CAST((w).k AS INTEGER) AS split_idx, (w).b AS split_ts,
  round((w).s, 6) AS stat, (w).ml AS mean_left, (w).mr AS mean_right
FROM best
"""


@register("binary_segment", oracle=_BINARY_SEGMENT_SQL)
def q_binary_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint location by binary segmentation over the
    daily mean value per event type with a planted +20 level shift
    from day 18 — the argmax split statistic must land on the
    boundary."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        binary_segment,
    )

    ev = _ev(spark, sf_dir).withColumn(
        "value",
        F.col("value")
        + F.when(F.dayofmonth("ts") >= 18, 20.0).otherwise(0.0),
    )
    return binary_segment(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


_DIFF_IN_DIFF_SQL = """
WITH src AS (
  SELECT CAST(user_id % 2 AS INTEGER) AS t,
    CASE WHEN date_part('day', ts) >= 16 THEN 1 ELSE 0 END AS p,
    CAST(value AS DOUBLE)
      + CASE WHEN user_id % 2 = 1 AND date_part('day', ts) >= 16
        THEN 20.0 ELSE 0.0 END AS v
  FROM events WHERE value IS NOT NULL
), cells AS (
  SELECT count(*) AS n,
    floor(sum(CASE WHEN t = 0 AND p = 0
        THEN floor(v * 1048576.0) END)
      / sum(CASE WHEN t = 0 AND p = 0 THEN 1 END)) / 1048576.0
      AS mean_c_pre,
    floor(sum(CASE WHEN t = 0 AND p = 1
        THEN floor(v * 1048576.0) END)
      / sum(CASE WHEN t = 0 AND p = 1 THEN 1 END)) / 1048576.0
      AS mean_c_post,
    floor(sum(CASE WHEN t = 1 AND p = 0
        THEN floor(v * 1048576.0) END)
      / sum(CASE WHEN t = 1 AND p = 0 THEN 1 END)) / 1048576.0
      AS mean_t_pre,
    floor(sum(CASE WHEN t = 1 AND p = 1
        THEN floor(v * 1048576.0) END)
      / sum(CASE WHEN t = 1 AND p = 1 THEN 1 END)) / 1048576.0
      AS mean_t_post
  FROM src
)
SELECT CAST(n AS BIGINT) AS n, mean_c_pre, mean_c_post,
  mean_t_pre, mean_t_post,
  round((mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre), 6)
    AS did
FROM cells
"""


@register("diff_in_diff", oracle=_DIFF_IN_DIFF_SQL)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on a planted quasi-experiment:
    treated = odd users, post = day >= 16, +20 planted effect on
    treated-post rows; the 2x2 grid-exact cell means recover it."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        diff_in_diff,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        (F.col("user_id") % 2).cast("int").alias("treat"),
        (F.dayofmonth("ts") >= 16).cast("int").alias("post"),
        (
            F.col("value")
            + F.when(
                ((F.col("user_id") % 2) == 1)
                & (F.dayofmonth("ts") >= 16),
                20.0,
            ).otherwise(0.0)
        ).alias("v"),
    )
    return diff_in_diff(src, "treat", "post", "v")


_DISPERSION_SQL = """
WITH b AS (
  SELECT event_type AS key, date_trunc('day', ts) AS bt,
    CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
), gm AS (
  SELECT key, count(*) AS n,
    floor(avg(c) * 1048576.0) / 1048576.0 AS mu
  FROM b GROUP BY key
), ag AS (
  SELECT b.key, n, mu,
    sum(floor((c - mu) * (c - mu) * 1048576.0)) / 1048576.0
      / (n - 1.0) AS v
  FROM b JOIN gm ON b.key = gm.key GROUP BY 1, 2, 3
)
SELECT key AS event_type, CAST(n AS BIGINT) AS n_buckets,
  mu AS mean_cnt, round(v, 6) AS var_cnt,
  round(v / mu, 6) AS fano,
  round(greatest(0.0, (v - mu) / (mu * mu)), 6) AS nb_alpha
FROM ag
"""


@register("dispersion", oracle=_DISPERSION_SQL)
def q_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor and negative-binomial overdispersion of the daily
    event counts per type — the burstiness diagnostic of the arrival
    process."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        dispersion_fit,
    )

    return dispersion_fit(_ev(spark, sf_dir), "event_type", "ts") \
        .withColumnRenamed("key", "event_type")


_READABILITY_SQL = """
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z'']+'),
                x -> x <> '') AS w,
    len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                    s -> trim(s) <> '')) AS n_sent
  FROM documents
), s AS (
  SELECT doc_id, len(w) AS n_words, n_sent,
    CAST(coalesce(list_sum(list_transform(w,
      x -> len(regexp_replace(x, '[^a-z]', '', 'g')))), 0)
      AS INTEGER) AS n_letters,
    CAST(coalesce(list_sum(list_transform(w,
      x -> CASE WHEN len(regexp_extract_all(x, '[aeiouy]+')) >= 3
           THEN 1 ELSE 0 END)), 0) AS INTEGER) AS n_poly
  FROM t
)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
  CAST(n_sent AS INTEGER) AS n_sentences, n_letters,
  n_poly AS n_polysyllables,
  CASE WHEN n_words > 0 AND n_sent > 0 THEN
    floor((4.71 * (CAST(n_letters AS DOUBLE) / n_words)
      + 0.5 * (CAST(n_words AS DOUBLE) / n_sent) - 21.43)
      * 1e6 + 0.5) / 1e6
  END AS ari,
  CASE WHEN n_words > 0 AND n_sent > 0 THEN
    floor((0.0588 * (CAST(n_letters AS DOUBLE) * 100.0 / n_words)
      - 0.296 * (CAST(n_sent AS DOUBLE) * 100.0 / n_words)
      - 15.8) * 1e6 + 0.5) / 1e6
  END AS cli,
  CASE WHEN n_words > 0 AND n_sent > 0 THEN
    round(1.043 * sqrt(CAST(n_poly AS DOUBLE) * 30.0 / n_sent)
      + 3.1291, 6)
  END AS smog
FROM s
"""


@register("readability", oracle=_READABILITY_SQL)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARI / Coleman-Liau / SMOG readability indices per document —
    the suite beyond the existing flesch entry, same tokenizer and
    vowel-group syllable heuristic."""
    from from_superset_to_clickhouse_spark.operators.text import (
        readability_suite,
    )

    return readability_suite(_docs(spark, sf_dir), "doc_id", "text")


_PROPORTIONS_SQL = """
WITH src AS (
  SELECT CAST(user_id % 2 AS INTEGER) AS a,
    CASE WHEN CAST(value AS DOUBLE)
      + 15.0 * CAST(user_id % 2 AS DOUBLE) > 250.0
      THEN 1 ELSE 0 END AS y
  FROM events
), c AS (
  SELECT
    sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS n_c,
    sum(CASE WHEN a = 0 THEN y ELSE 0 END) AS x_c,
    sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS n_t,
    sum(CASE WHEN a = 1 THEN y ELSE 0 END) AS x_t
  FROM src
), d AS (
  SELECT *,
    CAST(x_c AS DOUBLE) / n_c AS pc,
    CAST(x_t AS DOUBLE) / n_t AS pt,
    CAST(x_c + x_t AS DOUBLE) / (n_c + n_t) AS pp
  FROM c
), e AS (
  SELECT *,
    sqrt(pp * (1.0 - pp) * (1.0 / n_c + 1.0 / n_t)) AS sep,
    sqrt(pc * (1.0 - pc) / n_c + pt * (1.0 - pt) / n_t) AS sew,
    pt - pc AS diff
  FROM d
)
SELECT CAST(n_c AS BIGINT) AS n_c, CAST(x_c AS BIGINT) AS x_c,
  CAST(n_t AS BIGINT) AS n_t, CAST(x_t AS BIGINT) AS x_t,
  round(pc, 6) AS rate_c, round(pt, 6) AS rate_t,
  round(CASE WHEN sep > 0 THEN diff / sep END, 6) AS z,
  round(CASE WHEN pc > 0 THEN pt / pc END, 6) AS risk_ratio,
  round(CASE WHEN x_c > 0 AND n_t > x_t
    THEN (CAST(x_t AS DOUBLE) * (n_c - x_c))
       / (CAST(x_c AS DOUBLE) * (n_t - x_t)) END, 6) AS odds_ratio,
  round(diff - 1.959964 * sew, 6) AS ci_lo,
  round(diff + 1.959964 * sew, 6) AS ci_hi,
  round(CASE WHEN diff <> 0 THEN ceil(
    7.848878512225001
    * (pc * (1.0 - pc) + pt * (1.0 - pt)) / (diff * diff)) END, 6)
    AS min_n_per_arm
FROM e
"""


@register("proportions", oracle=_PROPORTIONS_SQL)
def q_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment readout with a planted treated-arm
    lift: z, risk/odds ratios, Wald CI, and the
    minSampleSizeConversion-parity per-arm n for the observed lift."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        proportions_test,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (
            (F.col("value") + 15.0 * (F.col("user_id") % 2)) > 250.0
        ).cast("int").alias("conv"),
    )
    return proportions_test(src, "arm", "conv")


def _pca_oracle_sql(dim: int = 64, iters: int = 8) -> str:
    steps = []
    prev = "v0"
    for i in range(1, iters + 1):
        steps.append(f"""
w{i} AS MATERIALIZED (
  SELECT c.j, sum(c.val * {prev}.val) AS w
  FROM c JOIN {prev} ON c.k = {prev}.j GROUP BY c.j
), n{i} AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM w{i}),
v{i} AS MATERIALIZED (
  SELECT j, floor(w / nrm * 1e9 + 0.5) / 1e9 AS val
  FROM w{i} CROSS JOIN n{i}
)""")
        prev = f"v{i}"
    return f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, unnest(range(0, len(embedding))) AS j,
    unnest(embedding) AS x
  FROM embeddings
), s AS MATERIALIZED (
  SELECT a.j AS j, b.j AS k,
    sum(floor(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)
      * 1048576.0)) / 1048576.0 AS sxx
  FROM d a JOIN d b ON a.vec_id = b.vec_id GROUP BY 1, 2
), m AS MATERIALIZED (
  SELECT j, count(*) AS n,
    floor(avg(CAST(x AS DOUBLE)) * 1048576.0) / 1048576.0 AS mu
  FROM d GROUP BY j
), c AS MATERIALIZED (
  SELECT s.j, s.k,
    (sxx - mj.n * mj.mu * mk.mu) / (mj.n - 1.0) AS val
  FROM s JOIN m mj ON s.j = mj.j JOIN m mk ON s.k = mk.j
), v0 AS MATERIALIZED (
  SELECT j, floor(1.0 / sqrt({dim}.0) * 1e9 + 0.5) / 1e9 AS val
  FROM (SELECT unnest(range(0, {dim})) AS j)
),{",".join(steps)},
lam AS (
  SELECT sum(va.val * c.val * vb.val) AS l
  FROM c JOIN v{iters} va ON c.j = va.j JOIN v{iters} vb
    ON c.k = vb.j
), tr AS (SELECT sum(val) AS t FROM c WHERE j = k)
SELECT CAST(m.j AS INTEGER) AS dim, m.mu AS mu,
  v{iters}.val AS loading, round(l, 6) AS lambda1,
  round(l / t, 6) AS explained
FROM m JOIN v{iters} ON m.j = v{iters}.j CROSS JOIN lam CROSS JOIN tr
"""


@register("pca_power", oracle=_pca_oracle_sql())
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration: grid-exact covariance from one distributed pass,
    8 grid-rounded power steps (bounded d x d collect, same precedent
    as k-means centroid training), eigenvalue + explained-variance
    ratio. Oracle unrolls the identical matvec -> normalize -> grid
    walk in SQL."""
    from from_superset_to_clickhouse_spark.operators.similarity import (
        pca_top_component,
    )

    return pca_top_component(_t(spark, sf_dir, "embeddings"), iters=8)


_KMV_SQL = """
WITH h AS (
  SELECT DISTINCT event_type AS grp,
    CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
      1, 8)) AS BIGINT) + 1 AS hv
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT grp, hv,
    row_number() OVER (PARTITION BY grp ORDER BY hv) AS rk
  FROM h
), a AS (
  SELECT grp, count(*) AS n_seen, max(hv) AS kth
  FROM r WHERE rk <= 64 GROUP BY grp
)
SELECT grp AS event_type, CAST(n_seen AS BIGINT) AS n_seen,
  round(CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE)
    ELSE 63.0 / (CAST(kth AS DOUBLE) / 4294967296.0) END, 6) AS est
FROM a
"""


@register("kmv_distinct", oracle=_KMV_SQL)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values cardinality estimates of distinct users per
    event type (k=64, md5-derived hashes) — the fully-oracled
    order-statistics member of the cardinality tier, next to the
    rows-only engine-native HLL."""
    from from_superset_to_clickhouse_spark.operators.sketch import (
        kmv_distinct,
    )

    ev = _ev(spark, sf_dir)
    return kmv_distinct(ev, "event_type", "user_id", k=64) \
        .withColumnRenamed("grp", "event_type")


_MARKOV_ENTROPY_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
      THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM s
), pairs AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER w2 AS to_type,
    lead(sid) OVER w2 = sid AS ok
  FROM sess
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT from_type, to_type, count(*) AS n FROM pairs
  WHERE ok AND to_type IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT from_type, n,
    round(CAST(n AS DOUBLE)
      / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
  FROM c
)
SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out,
  round(sum(-p * ln(p)), 6) AS h_nats,
  round(exp(sum(-p * ln(p))), 6) AS perplexity
FROM t GROUP BY from_type
"""


@register("markov_entropy", oracle=_MARKOV_ENTROPY_SQL)
def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state transition entropy and perplexity of the session
    Markov chain — how predictable the next in-session action is from
    each state; rides the markov_chain machinery."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        markov_entropy,
    )

    ev = _ev(spark, sf_dir)
    return markov_entropy(
        ev, "user_id", "ts", "event_type",
        gap_minutes=30, tiebreak_col="event_id",
    )


_AUDIENCE_OVERLAP_SQL = """
WITH gu AS (
  SELECT DISTINCT event_type AS g, user_id AS u FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
), sizes AS (SELECT g, count(*) AS n FROM gu GROUP BY g),
tot AS (SELECT count(DISTINCT u) AS t FROM gu),
inter AS (
  SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_both
  FROM gu a JOIN gu b ON a.u = b.u AND a.g < b.g
  GROUP BY 1, 2
)
SELECT group_a, group_b,
  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
  CAST(n_both AS BIGINT) AS n_both,
  CAST(na.n + nb.n - n_both AS BIGINT) AS n_any,
  round(CAST(n_both AS DOUBLE) / (na.n + nb.n - n_both), 6)
    AS jaccard,
  round(CAST(n_both AS DOUBLE) * t
    / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 6) AS lift
FROM inter
JOIN sizes na ON inter.group_a = na.g
JOIN sizes nb ON inter.group_b = nb.g
CROSS JOIN tot
"""


@register("audience_overlap", oracle=_AUDIENCE_OVERLAP_SQL)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap (|A∩B|, Jaccard, lift) between event
    types over distinct user sets — ClickHouse groupBitmapAnd/Or
    dashboards done relationally, intersection keyed by user."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        audience_overlap,
    )

    return audience_overlap(_ev(spark, sf_dir), "event_type", "user_id")


_ITEM_CF_SQL = """
WITH i AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), ic AS (SELECT it, count(*) AS c FROM i GROUP BY it),
pairs AS (
  SELECT a.it AS pa, b.it AS pb, count(*) AS n
  FROM i a JOIN i b ON a.bk = b.bk AND a.it < b.it
  GROUP BY 1, 2 HAVING count(*) >= 2
), bidir AS (
  SELECT pa AS item, pb AS rec, n FROM pairs
  UNION ALL
  SELECT pb AS item, pa AS rec, n FROM pairs
), scored AS (
  SELECT item, rec,
    CAST(n AS DOUBLE)
      / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cosine
  FROM bidir
  JOIN ic ca ON bidir.item = ca.it
  JOIN ic cb ON bidir.rec = cb.it
), ranked AS (
  SELECT item, rec, cosine,
    row_number() OVER (PARTITION BY item
      ORDER BY cosine DESC, rec) AS rank
  FROM scored
)
SELECT item, rec, CAST(rank AS INTEGER) AS rank,
  round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


@register("item_cf", oracle=_ITEM_CF_SQL)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: top-5
    'also bought' parts per part by co-occurrence cosine, item-id
    tiebreak for a deterministic cut."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        item_cf_topk,
    )

    li = _t(spark, sf_dir, "lineitem")
    return item_cf_topk(
        li, "l_orderkey", "l_partkey", k=5, min_pair_count=2
    )


_KMV_SET_OPS_SQL = """
WITH au AS (
  SELECT DISTINCT user_id AS u FROM events WHERE event_type = 'view'
), bu AS (
  SELECT DISTINCT user_id AS u FROM events
  WHERE event_type = 'purchase'
), tagged AS (
  SELECT 'a' AS g, u FROM au
  UNION ALL SELECT 'b', u FROM bu
  UNION ALL SELECT 'u', u FROM (
    SELECT u FROM au UNION SELECT u FROM bu)
), h AS (
  SELECT DISTINCT g, CAST(('0x' || substr(
    md5('kmv:' || CAST(u AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS hv
  FROM tagged
), r AS (
  SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rk
  FROM h
), a AS (
  SELECT g, count(*) AS n_seen, max(hv) AS kth
  FROM r WHERE rk <= 64 GROUP BY g
), e AS (
  SELECT g, round(CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE)
    ELSE 63.0 / (CAST(kth AS DOUBLE) / 4294967296.0) END, 6) AS est
  FROM a
), p AS (
  SELECT max(CASE WHEN g = 'a' THEN est END) AS est_a,
    max(CASE WHEN g = 'b' THEN est END) AS est_b,
    max(CASE WHEN g = 'u' THEN est END) AS est_union
  FROM e
), x AS (
  SELECT (SELECT count(*) FROM au) AS n_a,
    (SELECT count(*) FROM bu) AS n_b,
    (SELECT count(*) FROM (
      SELECT u FROM au INTERSECT SELECT u FROM bu)) AS n_inter
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(n_inter AS BIGINT) AS n_inter, est_a, est_b, est_union,
  round(est_a + est_b - est_union, 6) AS est_inter
FROM x CROSS JOIN p
"""


@register("kmv_set_ops", oracle=_KMV_SET_OPS_SQL)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on KMV sketches: union cardinality from the merged
    k-smallest set, intersection by inclusion-exclusion — the theta-
    sketch workflow with a fully-replayable md5 hash, next to the
    exact answers for honesty. Single row over the view/purchase
    audiences."""
    from from_superset_to_clickhouse_spark.operators.sketch import (
        kmv_distinct,
    )

    ev = _ev(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    tagged = (
        a.withColumn("g", F.lit("a"))
        .unionByName(b.withColumn("g", F.lit("b")))
        .unionByName(
            a.unionByName(b).withColumn("g", F.lit("u"))
        )
    )
    est = kmv_distinct(tagged, "g", "user_id", k=64)
    pick = lambda g: F.max(F.when(F.col("grp") == g, F.col("est")))  # noqa: E731
    ests = est.agg(
        pick("a").alias("est_a"),
        pick("b").alias("est_b"),
        pick("u").alias("est_union"),
    )
    exact = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_b"),
    )
    inter_exact = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            ev.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    out = exact.crossJoin(inter_exact).crossJoin(ests)
    return out.select(
        "n_a",
        "n_b",
        "n_inter",
        "est_a",
        "est_b",
        "est_union",
        F.round(
            F.col("est_a") + F.col("est_b") - F.col("est_union"), 6
        ).alias("est_inter"),
    )


_BMP_PIXELS_SQL = """
-- Planted enumeration: pixel (x,y) channels (R,G,B) at byte
-- position (y*w + x)*3 + c in TOP-DOWN RGB order (the decode
-- contract), regardless of the file's bottom-up BGR layout.
WITH dims AS (
  SELECT doc_id, doc_id % 9 + 1 AS w, doc_id % 7 + 1 AS h
  FROM documents
), xs AS (
  SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
), ys AS (
  SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
), px AS (
  SELECT doc_id, w, h, x, y, unnest(range(0, 3)) AS c FROM ys
), v AS (
  SELECT doc_id, w, h, (y * w + x) * 3 + c AS p,
    CASE c WHEN 0 THEN (doc_id + 3 * x + 5 * y) % 256
           WHEN 1 THEN (doc_id + 7 * x + y) % 256
           ELSE (doc_id + x + 11 * y) % 256 END AS val
  FROM px
)
SELECT CAST(doc_id AS BIGINT) AS media_id, 'bmp' AS format,
  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels, CAST(count(*) AS INTEGER) AS n_px,
  CAST(sum(val) AS BIGINT) AS px_sum,
  CAST(min(val) AS INTEGER) AS min_px,
  CAST(max(val) AS INTEGER) AS max_px,
  CAST(sum(p * val) AS BIGINT) AS pos_sum
FROM v GROUP BY doc_id
"""


@register("bmp_pixels", oracle=_BMP_PIXELS_SQL)
def q_bmp_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 24-bit BMP decode: bottom-up BGR rows with 4-byte padding
    (odd widths force nonzero pad), planted per-channel pixels whose
    position-weighted checksum is row-order AND channel-order
    sensitive — a top-down or BGR/RGB mix-up mismatches while px_sum
    agrees. Fourth pixel-real image format after PNG/GIF/JPEG."""
    imgs = mm.synthesize_bmp_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px", "pos_sum",
    )


_STREAM_SESSIONS_SQL = """
WITH d AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
      AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT user_id, ts,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  count(*) AS n_events
FROM g GROUP BY user_id, sid
"""


@register("stream_sessions", oracle=_STREAM_SESSIONS_SQL)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-sessionization (built-in session_window + state
    merge) run to completion over the events fixture as one
    micro-batch (single-file source; COMPLETE mode re-emits the full
    table, the final batch is the answer — session windows support
    append/complete only); the oracle is the batch gaps-and-islands
    twin. Cross-batch session merging is proven separately in pytest
    with a checkpoint restart on a bridging file."""
    import tempfile as _tf

    from from_superset_to_clickhouse_spark.streaming.ingest import (
        session_counts,
        stream_source,
    )

    src = _tf.mkdtemp(prefix="sg_sess_") + "/src"
    batch = _ev(spark, sf_dir).select("user_id", "ts")
    batch.coalesce(1).write.parquet(src)
    stream = stream_source(spark, src, batch.schema)
    holder: dict = {"rows": []}

    def sink(bdf, bid):
        # COMPLETE mode: each batch re-emits the full session table,
        # so the final batch IS the answer (bounded: one row/session)
        holder["rows"] = bdf.collect()

    ckpt = tempfile.mkdtemp(prefix="sg_ckpt_")
    q = (
        session_counts(stream, gap="30 minutes")
        .writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(r.user_id, r.session_start, r.session_end, r.n_events)
         for r in holder["rows"]],
        "user_id long, session_start timestamp,"
        " session_end timestamp, n_events long",
    )


_U_ATTRIBUTION_SQL = """
WITH t AS (
  SELECT user_id AS u, ts, event_id, event_type AS tt,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS cafter
  FROM events
), touches AS (
  SELECT u, ts, event_id, tt, cafter FROM t
  WHERE tt IN ('view', 'click', 'signup') AND cafter >= 1
), ranked AS (
  SELECT tt,
    row_number() OVER (PARTITION BY u, cafter
      ORDER BY ts, event_id) AS r,
    count(*) OVER (PARTITION BY u, cafter) AS n
  FROM touches
)
SELECT tt AS touch_type, CAST(count(*) AS BIGINT) AS n_touches,
  round(sum(CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5
    WHEN r = 1 OR r = n THEN 0.4
    ELSE 0.2 / (CAST(n AS DOUBLE) - 2.0) END), 6) AS credit
FROM ranked GROUP BY tt
"""


@register("u_attribution", oracle=_U_ATTRIBUTION_SQL)
def q_u_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (40/20/40 position-based) multi-touch attribution of
    purchases to view/click/signup touches — the middle ground
    between the first/last extremes of the attribution entry."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        u_shaped_attribution,
    )

    ev = _ev(spark, sf_dir)
    return u_shaped_attribution(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "signup"], "purchase",
        tiebreak_col="event_id",
    )


_CIRCADIAN_SQL = """
WITH a AS (
  SELECT event_type AS key,
    2.0 * pi() * CAST(epoch_us(ts) % 86400000000 AS DOUBLE)
      / 86400000000.0 AS th
  FROM events
), g AS (
  SELECT key, count(*) AS n, sum(cos(th)) AS c, sum(sin(th)) AS s
  FROM a GROUP BY key
)
SELECT key AS event_type, CAST(n AS BIGINT) AS n,
  round(sqrt(c * c + s * s) / n, 6) AS resultant_r,
  round(((atan2(s, c) / (2.0 * pi()) * 24.0) % 24.0 + 24.0) % 24.0, 4)
    AS peak_hour
FROM g
"""


@register("circadian", oracle=_CIRCADIAN_SQL)
def q_circadian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular time-of-day statistics per event type: mean resultant
    length (clock concentration) and the circular peak hour — the
    directional-statistics answer to 'when does this happen'."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        circadian_stats,
    )

    return circadian_stats(_ev(spark, sf_dir), "event_type", "ts") \
        .withColumnRenamed("key", "event_type")


_LOGRANK_SQL = """
WITH life0 AS (
  SELECT o.o_custkey AS s,
    CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
    CAST(min(o_orderdate) AS DATE) AS f,
    CAST(max(o_orderdate) AS DATE) AS l
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), mx AS (SELECT max(l) AS m FROM life0),
life AS (
  SELECT g, date_diff('day', f, l) AS t,
    CASE WHEN date_diff('day', l, m) > 60 THEN 1 ELSE 0 END AS dead
  FROM life0 CROSS JOIN mx
), pt AS (
  SELECT t,
    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS a1,
    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS a0,
    sum(CASE WHEN g = 1 AND dead = 1 THEN 1 ELSE 0 END) AS d1,
    sum(CASE WHEN g = 0 AND dead = 1 THEN 1 ELSE 0 END) AS d0
  FROM life GROUP BY t
), risk0 AS (
  SELECT t, d1, d0,
    sum(a1) OVER (ORDER BY t
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n1,
    sum(a0) OVER (ORDER BY t
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n0
  FROM pt
), risk AS (SELECT * FROM risk0 WHERE d1 + d0 > 0),
tot AS (
  SELECT sum(d1) AS o1,
    sum(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0)) AS e1,
    sum(CASE WHEN n1 + n0 > 1
      THEN CAST(d1 + d0 AS DOUBLE) * (CAST(n1 AS DOUBLE) / (n1 + n0))
        * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n0))
        * ((n1 + n0) - (d1 + d0)) / ((n1 + n0) - 1.0)
      ELSE 0.0 END) AS v
  FROM risk
), counts AS (
  SELECT sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n2
  FROM life
), zz AS (
  SELECT n1, n2, o1, e1, v,
    CASE WHEN v > 0
      THEN (CAST(o1 AS DOUBLE) - e1) / sqrt(v) END AS zv
  FROM counts CROSS JOIN tot
), et AS (
  SELECT *, abs(zv) / sqrt(2.0) AS x,
    1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS t
  FROM zz
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  CAST(o1 AS BIGINT) AS o1, round(e1, 6) AS e1, round(v, 6) AS var1,
  round(zv, 6) AS z,
  round(2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(x * x))) ) / 2.0), 6)
    AS p_value
FROM et
"""


@register("logrank", oracle=_LOGRANK_SQL)
def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test on customer order lifetimes: BUILDING
    segment vs the rest, same 60-day censoring as kaplan_meier;
    O/E/V from exact integer risk sets, A&S-erf p-value."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        logrank_test,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return logrank_test(
        j,
        "o_custkey",
        "o_orderdate",
        (F.col("c_mktsegment") == "BUILDING").cast("int"),
        censor_horizon_days=60,
    )


_SEQUENCE_COUNT_SQL = """
-- Same greedy automaton: (cnt, open-slot) accumulator prepended to
-- the per-user ordered code list, folded left-to-right.
WITH codes AS (
  SELECT user_id,
    list_transform(
      list(CASE WHEN event_type = 'view' THEN 1
                WHEN event_type = 'purchase' THEN 2
                ELSE 0 END ORDER BY ts, event_id),
      x -> [x]) AS cs
  FROM events GROUP BY user_id
), f AS (
  SELECT user_id, len(cs) AS n_events,
    list_reduce(
      [[0, 0]] || cs,
      (acc, e) -> list_value(
        acc[1] + CASE WHEN acc[2] = 1 AND e[1] = 2 THEN 1 ELSE 0 END,
        CASE WHEN acc[2] = 0 AND e[1] = 1 THEN 1
             WHEN acc[2] = 1 AND e[1] = 2 THEN 0
             ELSE acc[2] END)
    ) AS st
  FROM codes
)
SELECT user_id, CAST(n_events AS INTEGER) AS n_events,
  CAST(st[1] AS INTEGER) AS seq_count
FROM f
"""


@register("sequence_count", oracle=_SEQUENCE_COUNT_SQL)
def q_sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sequenceCount parity: greedy non-overlapping
    view-then-purchase matches per user via one codegen fold over
    the ordered per-user event codes."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_count,
    )

    ev = _ev(spark, sf_dir)
    return sequence_count(
        ev, "user_id", "ts", "event_type", "view", "purchase",
        tiebreak_col="event_id",
    ).withColumnRenamed("user", "user_id")


_COHORT_LTV_SQL = """
WITH src AS (
  SELECT user_id AS u, date_trunc('week', ts) AS b,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events
), fst AS (SELECT u, min(b) AS cohort FROM src GROUP BY u),
cs AS (
  SELECT cohort, count(DISTINCT u) AS n_users FROM fst GROUP BY cohort
), tri AS (
  SELECT cohort,
    CAST(date_diff('day', CAST(cohort AS DATE), CAST(b AS DATE))
      / 7.0 AS INTEGER) AS age,
    CAST(sum(qv) AS BIGINT) AS qr
  FROM src JOIN fst USING (u) GROUP BY 1, 2
), o AS (
  SELECT tri.cohort, age, n_users, qr,
    CAST(sum(qr) OVER (PARTITION BY tri.cohort ORDER BY age
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM tri JOIN cs ON tri.cohort = cs.cohort
)
SELECT cohort AS cohort_ts, age, CAST(n_users AS BIGINT) AS n_users,
  round(CAST(qr AS DOUBLE) / 1048576.0, 6) AS revenue,
  round(CAST(cum AS DOUBLE) / 1048576.0, 6) AS cum_revenue,
  round(CAST(cum AS DOUBLE) / 1048576.0
    / CAST(n_users AS DOUBLE), 6) AS cum_ltv
FROM o
"""


@register("cohort_ltv", oracle=_COHORT_LTV_SQL)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV accumulation triangle over weekly first-activity
    cohorts: grid-exact revenue per (cohort, age), running totals and
    per-user cumulative LTV — the revenue companion of
    cohort_retention."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        cohort_ltv,
    )

    return cohort_ltv(_ev(spark, sf_dir), "user_id", "ts", "value")


_DATA_GAPS_SQL = """
WITH b AS (
  SELECT user_id AS key, date_trunc('day', ts) AS bt, count(*) AS n
  FROM events GROUP BY 1, 2
), g AS (
  SELECT key, bt,
    date_diff('day', CAST(lag(bt) OVER w AS DATE), CAST(bt AS DATE))
      - 1 AS gap
  FROM b WINDOW w AS (PARTITION BY key ORDER BY bt)
), a AS (
  SELECT key, min(bt) AS first_ts, max(bt) AS last_ts,
    count(*) AS present,
    max(coalesce(gap, 0)) AS longest_gap
  FROM g GROUP BY key
)
SELECT key AS user_id, first_ts, last_ts,
  CAST(date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE))
    + 1 AS BIGINT) AS expected,
  CAST(present AS BIGINT) AS present,
  CAST(date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE))
    + 1 - present AS BIGINT) AS missing,
  CAST(longest_gap AS BIGINT) AS longest_gap
FROM a
"""


@register("data_gaps", oracle=_DATA_GAPS_SQL)
def q_data_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness panel per user: expected vs present daily
    buckets over each user's own activity span and the longest run of
    silent days — users average ~6 events over the month, so the gap
    statistics are non-trivial."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        data_gaps,
    )

    return data_gaps(_ev(spark, sf_dir), "user_id", "ts") \
        .withColumnRenamed("key", "user_id")


# ---------------------------------------------------------------------------
# Drift / agreement / richness statistics, graph components, image
# container parsers.
# ---------------------------------------------------------------------------

_MMD_SQL = """
-- Same biased V-statistic: per-pair squared distance folded over dims
-- on the 1e-6 grid, RBF kernel means over the three bounded pair
-- products, mmd2 = kxx + kyy - 2 kxy.
WITH a AS (
  SELECT embedding AS v FROM embeddings WHERE vec_id % 3 = 0
), b AS (
  SELECT [CAST(embedding[1] + 0.5 AS FLOAT)] ||
    embedding[2:len(embedding)] AS v
  FROM embeddings WHERE vec_id % 3 = 1
), kxx AS (
  SELECT avg(exp(-round(list_reduce(
      [CAST(0.0 AS DOUBLE)] || list_transform(range(1, len(x.v) + 1),
        i -> (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE))
           * (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE))),
      (acc, t) -> acc + t), 6) / 4.0)) AS m
  FROM a x CROSS JOIN a y
), kyy AS (
  SELECT avg(exp(-round(list_reduce(
      [CAST(0.0 AS DOUBLE)] || list_transform(range(1, len(x.v) + 1),
        i -> (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE))
           * (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE))),
      (acc, t) -> acc + t), 6) / 4.0)) AS m
  FROM b x CROSS JOIN b y
), kxy AS (
  SELECT avg(exp(-round(list_reduce(
      [CAST(0.0 AS DOUBLE)] || list_transform(range(1, len(x.v) + 1),
        i -> (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE))
           * (CAST(x.v[i] AS DOUBLE) - CAST(y.v[i] AS DOUBLE))),
      (acc, t) -> acc + t), 6) / 4.0)) AS m
  FROM a x CROSS JOIN b y
), na AS (SELECT count(*) AS n_a FROM a),
nb AS (SELECT count(*) AS n_b FROM b)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(kxx.m, 6) AS kxx, round(kyy.m, 6) AS kyy,
  round(kxy.m, 6) AS kxy,
  round(kxx.m + kyy.m - 2.0 * kxy.m, 6) AS mmd2
FROM kxx, kyy, kxy, na, nb
"""


@register("mmd_drift", oracle=_MMD_SQL)
def q_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample embedding drift: MMD² between two hash-split
    embedding groups, the second PLANTED with a +0.5 shift on dim 1 —
    the drift a per-scalar PSI/KS dashboard can miss but the kernel
    mean embedding cannot. Bounded hash samples (vec_id mod 3), RBF
    σ²=2; the oracle replays the pair kernels with the same 1e-6
    distance grid before exp."""
    from from_superset_to_clickhouse_spark.operators.similarity import (
        mmd_rbf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 3 == 0).select("embedding")
    b = emb.filter(F.col("vec_id") % 3 == 1).select(
        F.concat(
            F.array(
                (F.element_at("embedding", 1) + F.lit(0.5)).cast("float")
            ),
            F.slice("embedding", 2, F.size("embedding") - 1),
        ).alias("embedding")
    )
    return mmd_rbf(a, b, sigma2=2.0)


_QOI_PIXELS_SQL = """
-- Planted enumeration: pixel (x,y) channels (R,G,B) at byte position
-- (y*w + x)*3 + c, with x frozen to 0 on every third row (the
-- run-length rows).
WITH dims AS (
  SELECT doc_id, doc_id % 10 + 1 AS w, doc_id % 6 + 1 AS h
  FROM documents
), xs AS (
  SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims
), ys AS (
  SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs
), px AS (
  SELECT doc_id, w, h, x, y, unnest(range(0, 3)) AS c FROM ys
), v AS (
  SELECT doc_id, w, h, (y * w + x) * 3 + c AS p,
    CASE c
      WHEN 0 THEN (doc_id + 2 * (CASE WHEN y % 3 = 2 THEN 0 ELSE x END)
        + 7 * y) % 256
      WHEN 1 THEN (doc_id + 5 * (CASE WHEN y % 3 = 2 THEN 0 ELSE x END)
        + 3 * y) % 256
      ELSE (doc_id + 9 * (CASE WHEN y % 3 = 2 THEN 0 ELSE x END)
        + y) % 256 END AS val
  FROM px
)
SELECT CAST(doc_id AS BIGINT) AS media_id, 'qoi' AS format,
  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels, CAST(count(*) AS INTEGER) AS n_px,
  CAST(sum(val) AS BIGINT) AS px_sum,
  CAST(min(val) AS INTEGER) AS min_px,
  CAST(max(val) AS INTEGER) AS max_px,
  CAST(sum(p * val) AS BIGINT) AS pos_sum
FROM v GROUP BY doc_id
"""


@register("qoi_pixels", oracle=_QOI_PIXELS_SQL)
def q_qoi_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI decode (qoiformat.org — the run/index/diff/luma byte
    codec, fifth pixel-real format after PNG/GIF/JPEG/BMP): planted
    per-channel pixels with every third row flattened so RUN ops are
    exercised beside DIFF/LUMA/INDEX/RGB, position-weighted checksum
    sensitive to row and channel order. The encoder is exercised by
    pytest roundtrips; the oracle enumerates the planted pixels
    arithmetically, so the decode must recover every byte."""
    imgs = mm.synthesize_qoi_images(_docs(spark, sf_dir), "doc_id")
    return mm.image_pixel_stats(imgs).select(
        "media_id", "format", "width", "height", "channels",
        "n_px", "px_sum", "min_px", "max_px", "pos_sum",
    )


def _bt_sql(iters: int = 8) -> str:
    """Unrolled Hunter-MM Bradley–Terry as DuckDB CTEs — the oracle
    twin of ``operators/mleval.py:bradley_terry`` (same planted match
    rule, same 1e-9-grid term/denominator/update/renormalization per
    round, same mean-1 normalization and final 6dp round)."""
    head = """
WITH src AS (
  SELECT user_id % 5 AS a, (user_id + 1 + event_id % 3) % 5 AS b,
    event_id
  FROM events WHERE user_id IS NOT NULL
), mt AS (
  SELECT
    CASE WHEN (event_id * 31) % 100 < 50 + 10 * (a - b)
      THEN a ELSE b END AS w,
    CASE WHEN (event_id * 31) % 100 < 50 + 10 * (a - b)
      THEN b ELSE a END AS l
  FROM src
), base AS MATERIALIZED (
  SELECT CAST(w AS VARCHAR) AS w, CAST(l AS VARCHAR) AS l
  FROM mt WHERE w <> l
), wins AS (SELECT w AS item, count(*) AS wins FROM base GROUP BY 1),
pairs AS (
  SELECT least(w, l) AS a, greatest(w, l) AS b, count(*) AS n
  FROM base GROUP BY 1, 2
), allsides AS (
  SELECT w AS item FROM base UNION ALL SELECT l FROM base
), items AS (SELECT DISTINCT item FROM allsides),
tot AS (SELECT item, count(*) AS n_matches FROM allsides GROUP BY 1),
kk AS (SELECT count(*) AS k FROM items),
sym AS (
  SELECT a AS i, b AS j, n FROM pairs
  UNION ALL SELECT b AS i, a AS j, n FROM pairs
), pi0 AS MATERIALIZED (SELECT item, CAST(1.0 AS DOUBLE) AS pi FROM items)"""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
term{t} AS (
  SELECT s.i, round(CAST(s.n AS DOUBLE) / (x.pi + y.pi), 9) AS tm
  FROM sym s
  JOIN pi{t - 1} x ON s.i = x.item
  JOIN pi{t - 1} y ON s.j = y.item
), den{t} AS (
  SELECT i AS item, round(sum(tm), 9) AS d FROM term{t} GROUP BY 1
), upd{t} AS (
  SELECT i.item,
    round(CAST(coalesce(w.wins, 0) AS DOUBLE) / d.d, 9) AS p
  FROM items i LEFT JOIN wins w USING (item)
  JOIN den{t} d USING (item)
), s{t} AS (SELECT round(sum(p), 9) AS s FROM upd{t}),
pi{t} AS MATERIALIZED (
  SELECT item,
    round(p * CAST((SELECT k FROM kk) AS DOUBLE)
      / (SELECT s FROM s{t}), 9) AS pi
  FROM upd{t}
)""")
    tail = f"""
SELECT i.item,
  CAST(coalesce(w.wins, 0) AS BIGINT) AS wins,
  CAST(coalesce(t.n_matches, 0) AS BIGINT) AS n_matches,
  round(coalesce(p.pi, 0.0), 6) AS strength,
  CAST(row_number() OVER (
    ORDER BY round(coalesce(p.pi, 0.0), 6) DESC, i.item
  ) AS INTEGER) AS rank
FROM items i
LEFT JOIN wins w USING (item)
LEFT JOIN tot t USING (item)
LEFT JOIN pi{iters} p USING (item)"""
    return head + "," + ",".join(steps) + tail


@register("bradley_terry", oracle=_bt_sql(8))
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference strengths over planted pairwise
    matches (the model behind RLHF reward fitting / tournament
    ranking): 5 contestants from user parity classes, opponents a
    rotating offset, winner by an id-arithmetic rule that makes higher
    indices stronger — the MM iterations must recover the planted
    order. 8 Hunter-MM rounds over the K² pair table, every
    intermediate on the 1e-9 grid; the oracle unrolls all 8 rounds as
    CTEs, so one drifted update hash-mismatches."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        bradley_terry,
    )

    ev = _ev(spark, sf_dir).filter(F.col("user_id").isNotNull())
    a = F.col("user_id") % 5
    b = (F.col("user_id") + 1 + F.col("event_id") % 3) % 5
    a_wins = (F.col("event_id") * 31) % 100 < 50 + 10 * (a - b)
    m = ev.select(
        F.when(a_wins, a).otherwise(b).cast("string").alias("w"),
        F.when(a_wins, b).otherwise(a).cast("string").alias("l"),
    )
    return bradley_terry(m, "w", "l", iters=8)


_RBO_SQL = """
-- Same ranked LIMIT-50 lists, same p^(d-1)/d suffix-weight spine,
-- same (1.0 - 0.9) multiplier computed in doubles.
WITH a AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank
  FROM documents QUALIFY rank <= 50
), b AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY n_chars + (doc_id % 7) * 3 DESC, doc_id) AS INTEGER) AS rank
  FROM documents QUALIFY rank <= 50
), common AS (
  SELECT a.doc_id, greatest(a.rank, b.rank) AS d0
  FROM a JOIN b USING (doc_id)
), spine AS (SELECT CAST(unnest(range(1, 51)) AS INTEGER) AS d),
w AS (SELECT d, pow(0.9, d - 1) / d AS wt FROM spine),
suf AS (
  SELECT d, round(sum(wt) OVER (ORDER BY d DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS suf
  FROM w
)
SELECT CAST(50 AS INTEGER) AS depth, 0.9 AS p,
  CAST(count(*) AS BIGINT) AS n_common,
  round((1.0 - 0.9) * round(coalesce(sum(s.suf), 0.0), 9), 6) AS rbo
FROM common c JOIN suf s ON c.d0 = s.d
"""


@register("rbo", oracle=_RBO_SQL)
def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between two top-50 document rankings —
    by length, and by a locally-perturbed length score — the
    top-weighted similarity for comparing retrieval runs (RBO weights
    top-rank disagreement more; Kendall/Spearman can't truncate or
    top-weight). Ranked lists come from ordered LIMITs; the p^{d-1}/d
    suffix weights live on a 50-row generated spine."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        rank_biased_overlap,
    )

    docs = _docs(spark, sf_dir)

    def ranked(score):
        top = docs.orderBy(score.desc(), "doc_id").limit(50)
        w = Window.orderBy(score.desc(), "doc_id")
        return top.select(
            "doc_id", F.row_number().over(w).cast("int").alias("rank")
        )

    ra = ranked(F.col("n_chars"))
    rb = ranked(F.col("n_chars") + (F.col("doc_id") % 7) * 3)
    return rank_biased_overlap(ra, rb, "doc_id", depth=50, p=0.9)


@register("scc", oracle="""
-- Exact mutual-reach SCC on the same planted arcs: recursive-CTE
-- transitive closure, scc(v) = max id u with v->*u and u->*v (self
-- included) — the engine's coloring label is provably the same value
-- (the max id in the component).
WITH RECURSIVE m AS (SELECT max(c_custkey) AS mm FROM customer),
edges AS (
  SELECT c_custkey AS s,
    CASE WHEN (c_custkey - 1) % 6 = 5 OR c_custkey = (SELECT mm FROM m)
      THEN c_custkey - (c_custkey - 1) % 6 ELSE c_custkey + 1 END AS d
  FROM customer
  UNION
  SELECT c_custkey, c_custkey + 6 FROM customer
  WHERE (c_custkey - 1) % 6 = 2 AND c_custkey + 6 <= (SELECT mm FROM m)
  UNION
  SELECT c_custkey, c_custkey - 7 FROM customer
  WHERE c_custkey % 97 = 0 AND c_custkey > 7
),
reach AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
mut AS (
  SELECT r1.s AS v, r1.d AS u
  FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s
)
SELECT c.c_custkey AS node,
  greatest(c.c_custkey, coalesce(max(mu.u), c.c_custkey)) AS scc
FROM customer c LEFT JOIN mut mu ON mu.v = c.c_custkey
GROUP BY c.c_custkey
""")
def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of a planted DIRECTED graph over
    the customer keys: 6-node cycles (k→k+1, last→first), ONE-WAY
    chain arcs between adjacent cycles (p==2 → k+6), and sparse
    one-way down-arcs (k%97==0 → k−7). Undirected CC would merge the
    whole chain into one giant component; the true SCCs are the
    6-cycles EXCEPT where a down-arc closes a loop through the chain
    arcs and splices 2-3 adjacent cycles into one larger component
    (e.g. k=97's arc merges three) — both component sizes are
    exercised, and the web-graph question (redirect loops,
    mutually-citing clusters) is one CC cannot answer. Coloring depth is
    bounded by design (short cycles, non-chaining down-arcs — the
    small-diameter regime real web graphs live in), so the Pregel-style
    forward-max coloring + backward containment settles in ≤3 outer
    rounds. SCC label = max id IN the component (graph-intrinsic);
    the oracle computes the exact mutual-reach closure via a
    recursive CTE."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        strongly_connected_components,
    )

    cust = _t(spark, sf_dir, "customer")
    mx = cust.agg(F.max("c_custkey").alias("_m"))
    base = cust.select("c_custkey").crossJoin(F.broadcast(mx))
    k = F.col("c_custkey")
    p = (k - 1) % 6
    cyc = base.select(
        k.alias("src"),
        F.when((p == 5) | (k == F.col("_m")), k - p)
        .otherwise(k + 1)
        .alias("dst"),
    )
    chain = base.filter((p == 2) & (k + 6 <= F.col("_m"))).select(
        k.alias("src"), (k + 6).alias("dst")
    )
    down = base.filter((k % 97 == 0) & (k > 7)).select(
        k.alias("src"), (k - 7).alias("dst")
    )
    nodes = cust.select(k.alias("node"))
    return strongly_connected_components(
        cyc.unionByName(chain).unionByName(down), nodes=nodes
    )


@register("seq_count_strict", oracle="""
-- Same stream-adjacency automaton: a hit closes the slot; any
-- non-hit event re-opens it only if it is itself a first_type.
WITH codes AS (
  SELECT user_id,
    list_transform(
      list(CASE WHEN event_type = 'view' THEN 1
                WHEN event_type = 'purchase' THEN 2
                ELSE 0 END ORDER BY ts, event_id),
      x -> [x]) AS cs
  FROM events GROUP BY user_id
), f AS (
  SELECT user_id, len(cs) AS n_events,
    list_reduce(
      [[0, 0]] || cs,
      (acc, e) -> list_value(
        acc[1] + CASE WHEN acc[2] = 1 AND e[1] = 2 THEN 1 ELSE 0 END,
        CASE WHEN acc[2] = 1 AND e[1] = 2 THEN 0
             WHEN e[1] = 1 THEN 1
             ELSE 0 END)
    ) AS st
  FROM codes
)
SELECT user_id, CAST(n_events AS INTEGER) AS n_events,
  CAST(st[1] AS INTEGER) AS seq_count
FROM f
""")
def q_seq_count_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-adjacency sequence counting: purchase must IMMEDIATELY
    follow view in the per-user ordered stream — any intervening event
    voids the open slot. Deliberately STRONGER than ClickHouse
    sequenceCount('(?1)(?2)'), which ignores non-condition events when
    judging adjacency (with two conditions CH's (?1)(?2) collapses to
    the relaxed (?1).*(?2) automaton the `sequence_count` entry
    already covers); "purchase as the very next user action" is not
    expressible in CH patterns. Same single codegen fold; the oracle
    replays the automaton via list_reduce."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_count_strict,
    )

    ev = _ev(spark, sf_dir)
    return sequence_count_strict(
        ev, "user_id", "ts", "event_type", "view", "purchase",
        tiebreak_col="event_id",
    ).withColumnRenamed("user", "user_id")


@register("dtw_daily", oracle="""
-- Same DP, bit-for-bit: 6dp bucket means, [0, inf..] border row,
-- nested fold appending cells cost + least(up, diag, left).
WITH daily AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    round(avg(CAST(value AS DOUBLE)), 6) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), series AS (
  SELECT key, list(v ORDER BY b) AS xs FROM daily GROUP BY key
), ref AS (SELECT xs AS ys FROM series WHERE key = 'purchase'),
j AS (SELECT s.key, s.xs, r.ys FROM series s CROSS JOIN ref r)
SELECT key, CAST(len(xs) AS INTEGER) AS n_x,
  CAST(len(ys) AS INTEGER) AS n_y,
  round(list_reduce(
    [[0.0] || list_transform(ys, y -> 1e18)] ||
      list_transform(xs, x -> [x]),
    (prev, xe) -> list_reduce(
        [[1e18]] || list_transform(ys, y -> [y]),
        (cur, ye) -> cur || [abs(xe[1] - ye[1]) +
          least(prev[len(cur) + 1], prev[len(cur)], cur[-1])]
    )
  )[len(ys) + 1], 6) AS dtw
FROM j
""")
def q_dtw_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between every event type's daily
    mean-value series and the purchase series — the phase-tolerant
    shape similarity (a one-day-lagged twin scores near 0 where
    rolling correlation collapses). O(n·m) DP as one codegen fold per
    key over the 6dp-rounded shared bucket means; the oracle replays
    the identical add/min cell sequence via nested list_reduce, so a
    single wrong DP cell hash-mismatches."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        dtw_distance,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return dtw_distance(
        ev, "event_type", "ts", "value", ref_key="purchase"
    )


@register("cohens_kappa", oracle="""
-- Same cell/marginal construction; P_e joins the marginal tables on
-- label (not the observed diagonal), all ratios of exact counts.
WITH src AS (
  SELECT CAST(user_id % 3 AS VARCHAR) AS ra,
    CAST((user_id + CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) % 3
      AS VARCHAR) AS rb
  FROM events WHERE user_id IS NOT NULL
), cells AS (SELECT ra, rb, count(*) AS c FROM src GROUP BY 1, 2),
ma AS (SELECT ra AS l, sum(c) AS na FROM cells GROUP BY 1),
mb AS (SELECT rb AS l, sum(c) AS nb FROM cells GROUP BY 1),
pe AS (SELECT sum(CAST(na AS DOUBLE) * nb) AS pe_num
       FROM ma JOIN mb USING (l)),
d AS (SELECT sum(c) AS nn,
        sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS diag FROM cells)
SELECT CAST(nn AS BIGINT) AS n,
  round(CAST(diag AS DOUBLE) / nn, 6) AS po,
  round(pe_num / (CAST(nn AS DOUBLE) * nn), 6) AS pe,
  round(CASE WHEN pe_num / (CAST(nn AS DOUBLE) * nn) < 1.0 THEN
    (CAST(diag AS DOUBLE) / nn - pe_num / (CAST(nn AS DOUBLE) * nn))
    / (1.0 - pe_num / (CAST(nn AS DOUBLE) * nn)) END, 6) AS kappa
FROM d, pe
""")
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two synthetic raters over the events
    corpus — rater A labels by user_id mod 3, rater B agrees except on
    a planted 1-in-4 event slice where its label rotates, so P_o ≈ .75
    against P_e ≈ 1/3 and kappa lands mid-scale. THE agreement
    statistic for annotator/LLM-judge audits; chance-corrected, unlike
    raw percent agreement. All ratios of exact integer counts."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cohens_kappa,
    )

    ev = _ev(spark, sf_dir).filter(F.col("user_id").isNotNull())
    df = ev.select(
        (F.col("user_id") % 3).cast("string").alias("ra"),
        (
            (
                F.col("user_id")
                + F.when(F.col("event_id") % 4 == 0, 1).otherwise(0)
            )
            % 3
        ).cast("string").alias("rb"),
    )
    return cohens_kappa(df, "ra", "rb")


@register("mcnemar", oracle="""
-- Same planted flips, same continuity-corrected chi2 on 1 dof, same
-- Wilson-Hilferty + A&S-erf p-value arithmetic.
WITH src AS (
  SELECT CASE WHEN CAST(value AS DOUBLE) > 30.0 THEN 1 ELSE 0 END AS a,
    event_id FROM events WHERE value IS NOT NULL
), pair AS (
  SELECT a AS ma,
    CASE WHEN event_id % 7 = 0 AND a = 1 THEN 0
         WHEN event_id % 11 = 0 AND a = 0 THEN 1
         ELSE a END AS mb
  FROM src
), agg AS (
  SELECT count(*) AS n,
    sum(CASE WHEN ma = 1 AND mb = 0 THEN 1 ELSE 0 END) AS n10,
    sum(CASE WHEN ma = 0 AND mb = 1 THEN 1 ELSE 0 END) AS n01
  FROM pair
), c AS (
  SELECT *, CASE WHEN n10 + n01 > 0 THEN
      (abs(n10 - n01) - 1.0) * (abs(n10 - n01) - 1.0) / (n10 + n01)
    ELSE 0.0 END AS chi2 FROM agg
), zc AS (SELECT *, (pow(chi2 / 1.0, 1.0 / 3.0)
    - (1.0 - 2.0 / 9.0)) / sqrt(2.0 / 9.0) AS z FROM c),
et AS (SELECT *, abs(z) / sqrt(2.0) AS xx,
  1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t FROM zc),
pv AS (SELECT *, (1.0 - (1.0 - (0.254829592 * t
  - 0.284496736 * t * t + 1.421413741 * t * t * t
  - 1.453152027 * t * t * t * t
  + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0
  AS sf FROM et)
SELECT CAST(n AS BIGINT) AS n, CAST(n10 AS BIGINT) AS n10,
  CAST(n01 AS BIGINT) AS n01, round(chi2, 6) AS chi2,
  round(CASE WHEN z >= 0 THEN sf ELSE 1.0 - sf END, 6) AS p_value
FROM pv
""")
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test comparing two binary 'classifiers' scored
    on the SAME events: A fires on value > 30; B copies A except
    planted asymmetric flips (1-in-7 of A's positives drop, 1-in-11 of
    A's negatives rise), so the discordant cells differ and the
    continuity-corrected χ² is exercised on a real asymmetry. The
    standard model-A-vs-B eval on one test set."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mcnemar_test,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    a = F.when(F.col("value") > 30.0, 1).otherwise(0)
    b = (
        F.when((F.col("event_id") % 7 == 0) & (a == 1), 0)
        .when((F.col("event_id") % 11 == 0) & (a == 0), 1)
        .otherwise(a)
    )
    return mcnemar_test(ev.select(a.alias("ma"), b.alias("mb")), "ma", "mb")


@register("chao1", oracle="""
-- Same word tokenization, same type-frequency table, same
-- bias-corrected f1/f2 estimate.
WITH toks AS (
  SELECT lang, unnest(list_filter(regexp_split_to_array(
    lower(text), '[^a-z0-9'']+'), x -> x <> '')) AS tok
  FROM documents
), freq AS (
  SELECT lang AS grp, tok, count(*) AS c FROM toks GROUP BY 1, 2
)
SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS observed,
  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
  round(count(*) + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1.0)
    / (2.0 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1.0)), 6)
    AS chao1
FROM freq GROUP BY grp
""")
def q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate per language over the
    documents corpus: singleton/doubleton counts of the standard word
    tokenization → how many types this slice is still missing. The
    coverage planner's companion to the Heaps exponent; everything
    after the type-frequency groupBy is ≤ |vocab| rows."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        chao1_richness,
    )
    from from_superset_to_clickhouse_spark.operators.text import word_tokens

    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(word_tokens(F.col("text"))).alias("tok")
    )
    return chao1_richness(toks, "tok", "lang")


@register("good_turing", oracle="""
-- Same pooled BIGRAM frequency-of-frequencies histogram and
-- (r+1)N_{r+1}/N_r adjusted counts; the r=0 row carries the unseen
-- mass N1/N.
WITH tarr AS (
  SELECT list_filter(regexp_split_to_array(
    lower(text), '[^a-z0-9'']+'), x -> x <> '') AS ts
  FROM documents
), toks AS (
  SELECT ts[i] || ' ' || ts[i + 1] AS tok
  FROM tarr, unnest(range(1, len(ts))) AS t(i)
), freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
hist AS (SELECT c AS r, count(*) AS n_r FROM freq GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM freq),
base AS (
  SELECT r, n_r FROM hist
  UNION ALL SELECT 0 AS r, 0 AS n_r
)
SELECT CAST(b.r AS BIGINT) AS r, CAST(b.n_r AS BIGINT) AS n_r,
  round(CASE WHEN b.r = 0 THEN NULL
    ELSE (b.r + 1.0) * coalesce(nx.n_r, 0) / b.n_r END, 6) AS r_star,
  round(CASE WHEN b.r = 0 THEN coalesce(nx.n_r, 0) * 1.0 / t.n
    ELSE b.n_r * ((b.r + 1.0) * coalesce(nx.n_r, 0) / b.n_r) / t.n
    END, 6) AS p_mass
FROM base b LEFT JOIN hist nx ON nx.r = b.r + 1 CROSS JOIN tot t
WHERE b.r <= 5
""")
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good–Turing adjusted counts over the pooled BIGRAM
    vocabulary (the templated fixture corpus has no rare unigrams, so
    the sparse bigram types exercise the real histogram): r* =
    (r+1)·N_{r+1}/N_r for r ≤ 5, and the r = 0 row carrying the unseen
    mass N₁/N — the LM-smoothing constant that prices n-grams the
    corpus has never seen."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        good_turing,
    )
    from from_superset_to_clickhouse_spark.operators.text import (
        word_bigrams,
    )

    toks = _docs(spark, sf_dir).select(
        F.explode(word_bigrams(F.col("text"))).alias("tok")
    )
    return good_turing(toks, "tok", max_r=5)


@register("hill_tail", oracle="""
-- Same top-31 order statistics (values only -- tie identity cannot
-- change the multiset), same log-ratio mean. Rank BY POSITION like
-- the engine: exactly k = 30 order statistics enter the mean, values
-- tied with x_(k+1) contribute ln 1 = 0 instead of being dropped.
WITH top AS (
  SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
  WHERE n_chars > 0 ORDER BY n_chars DESC, doc_id LIMIT 31
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x DESC) AS rn FROM top
), c AS (SELECT max(rn) AS last FROM ranked),
xm AS (SELECT x AS xmin FROM ranked, c WHERE rn = last),
j AS (SELECT x, xmin FROM ranked, c, xm WHERE rn < last)
SELECT CAST(count(*) AS BIGINT) AS k,
  round(min(xmin), 6) AS xmin,
  round(1.0 / avg(ln(x / xmin)), 6) AS alpha,
  round(1.0 / avg(ln(x / xmin)) / sqrt(count(*)), 6) AS se
FROM j
""")
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of the document-length distribution from the
    top-31 order statistics: 1/α = mean ln(x_i/x_(k+1)) over the k
    largest lengths — says whether the length tail is heavy enough
    that means/p99s are unstable. The only corpus-scale op is an
    ordered LIMIT (TakeOrdered, no global sort)."""
    from from_superset_to_clickhouse_spark.operators.stats import hill_tail

    return hill_tail(
        _docs(spark, sf_dir), "n_chars", k=30, tiebreak_col="doc_id"
    )


@register("theil_index", oracle="""
-- Same group sums of x and x ln x, same decomposition identity
-- T = T_between + T_within from the tiny group table.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS x FROM events
  WHERE value > 0
), grp AS (
  SELECT g, count(*) AS ng, sum(x) AS sg, sum(x * ln(x)) AS xlxg
  FROM src GROUP BY 1
), tot AS (
  SELECT sum(ng) AS n, sum(sg) AS s, sum(xlxg) AS xlx FROM grp
)
SELECT CAST(t.n AS BIGINT) AS n,
  round(t.s / t.n, 6) AS mean,
  round(t.xlx / t.s - ln(t.s / t.n), 6) AS theil_total,
  round((SELECT sum((g.sg / t2.s) * ln((g.sg / g.ng) / (t2.s / t2.n)))
    FROM grp g, tot t2), 6) AS theil_between,
  round((SELECT sum((g.sg / t2.s) * (g.xlxg / g.sg - ln(g.sg / g.ng)))
    FROM grp g, tot t2), 6) AS theil_within
FROM tot t
""")
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of positive event values with the exact
    between/within event-type decomposition — the additive inequality
    split Gini cannot do (is value concentration a between-type or
    within-type phenomenon?). One corpus pass for Σx·ln x + a tiny
    group table; the oracle replays the identity T = T_b + T_w."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        theil_index,
    )

    return theil_index(_ev(spark, sf_dir), "value", "event_type")


@register("friedman", oracle="""
-- Same complete-block filter, same 0.5-grid midranks (rank()-1 below
-- + (ties+1)/2), same Q and Wilson-Hilferty p on k-1 dof.
WITH cell AS (
  SELECT CAST(date_part('day', ts) AS INTEGER) AS blk, event_type AS trt,
    sum(CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT)) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), kk AS (SELECT count(DISTINCT trt) AS k FROM cell),
complete AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY blk) AS bn FROM cell
  ) WHERE bn = (SELECT k FROM kk)
), ranked AS (
  SELECT blk, trt,
    (rank() OVER (PARTITION BY blk ORDER BY v) - 1)
      + (count(*) OVER (PARTITION BY blk, v) + 1.0) / 2.0 AS r
  FROM complete
), rsum AS (
  SELECT trt, sum(r) AS rj, count(DISTINCT blk) AS nb
  FROM ranked GROUP BY 1
), agg AS (
  SELECT min(nb) AS n, count(*) AS k, sum(rj * rj) AS r2 FROM rsum
), qq AS (
  SELECT n, k,
    12.0 / (n * k * (k + 1.0)) * r2 - 3.0 * n * (k + 1.0) AS q
  FROM agg
), zc AS (SELECT *, (pow(q / (k - 1.0), 1.0 / 3.0)
    - (1.0 - 2.0 / (9.0 * (k - 1.0)))) / sqrt(2.0 / (9.0 * (k - 1.0)))
    AS z FROM qq),
et AS (SELECT *, abs(z) / sqrt(2.0) AS xx,
  1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t FROM zc),
pv AS (SELECT *, (1.0 - (1.0 - (0.254829592 * t
  - 0.284496736 * t * t + 1.421413741 * t * t * t
  - 1.453152027 * t * t * t * t
  + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0
  AS sf FROM et)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
  round(q, 6) AS q,
  round(CASE WHEN z >= 0 THEN sf ELSE 1.0 - sf END, 6) AS p_value
FROM pv
""")
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test over the complete day × event-type block
    design: daily per-type value sums on the exact 2^-20 grid become
    one observation per block×treatment, midranked within each day —
    the nonparametric repeated-measures ANOVA (do the five types rank
    consistently across days?). Midranks on the 0.5 grid keep every
    rank sum exact on both engines."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        friedman_test,
    )

    cell = (
        _ev(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.dayofmonth("ts").alias("blk"),
            F.col("event_type").alias("trt"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value").cast("double") * F.lit(1048576.0))
            ).alias("v")
        )
    )
    return friedman_test(cell, "blk", "trt", "v")


@register("perm_test", oracle="""
-- Same md5-derived deterministic relabelings, same 2^-20 grid sums,
-- same add-one p-value.
WITH src AS (
  SELECT CAST(user_id AS VARCHAR) AS u,
    CAST(user_id % 2 AS INTEGER) AS arm,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), obs AS (
  SELECT count(*) AS n,
    sum(CASE WHEN arm = 1 THEN qv END) * 1.0
      / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
    - sum(CASE WHEN arm = 0 THEN qv END) * 1.0
      / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS d_obs
  FROM src
), ks AS (SELECT unnest(range(200)) AS k),
perm AS (
  SELECT k,
    CAST(CAST(('0x' || substr(md5(u || ':' || CAST(k AS VARCHAR)), 1, 8))
      AS BIGINT) % 2 AS INTEGER) AS pa,
    qv
  FROM src CROSS JOIN ks
), per_k AS (
  SELECT k,
    sum(CASE WHEN pa = 1 THEN qv END) * 1.0
      / sum(CASE WHEN pa = 1 THEN 1 ELSE 0 END)
    - sum(CASE WHEN pa = 0 THEN qv END) * 1.0
      / sum(CASE WHEN pa = 0 THEN 1 ELSE 0 END) AS d
  FROM perm GROUP BY 1
), agg AS (
  SELECT count(*) AS np,
    sum(CASE WHEN abs(d) >= abs((SELECT d_obs FROM obs))
      THEN 1 ELSE 0 END) AS ext
  FROM per_k
)
SELECT CAST((SELECT n FROM obs) AS BIGINT) AS n_units,
  CAST(np AS BIGINT) AS n_perm,
  round((SELECT d_obs FROM obs) / 1048576.0, 6) AS diff_obs,
  CAST(ext AS BIGINT) AS n_extreme,
  round((ext + 1.0) / (np + 1.0), 6) AS p_value
FROM agg
""")
def q_perm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the arm-mean difference with DETERMINISTIC
    md5-derived relabelings: arm = user parity, 200 null draws assign
    each user to md5(user:k) % 2, p = (1 + #extreme)/(201) — the
    assumption-free companion to the Welch z-test, replayable
    bit-for-bit by any engine with md5. Values on the 2^-20 grid so
    every per-arm mean is an exact IEEE ratio; the ×200 fan-out
    collapses in a map-side-combinable groupBy(k, arm)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        permutation_test_hash,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    df = ev.select(
        F.col("user_id").alias("unit"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.col("value"),
    )
    return permutation_test_hash(df, "unit", "arm", "value", n_perm=200)


@register("webp_meta", oracle="""
-- Planted-header enumeration: the parser must recover exactly these
-- id-arithmetic fields through a real RIFF/VP8/VP8L/VP8X chunk walk
-- (VP8X rows carry a decoy nested VP8 chunk with different dims).
SELECT CAST(doc_id AS BIGINT) AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l' ELSE 'vp8x' END
    AS variant,
  CAST(doc_id % 300 + 1 AS INTEGER) AS width,
  CAST(doc_id % 200 + 1 AS INTEGER) AS height,
  CAST(CASE WHEN doc_id % 2 = 0 AND doc_id % 3 <> 0 THEN 1 ELSE 0 END
    AS INTEGER) AS has_alpha,
  CAST(CASE WHEN doc_id % 5 = 0 AND doc_id % 3 = 2 THEN 1 ELSE 0 END
    AS INTEGER) AS has_anim
FROM documents
""")
def q_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP (RFC 9649) header parse — the top-3 crawl image format
    the header tier used to quarantine (VERDICT r8 item 6): RIFF chunk
    walk with size validation over spec-valid planted bytes cycling all
    three bitstream variants (VP8 lossy frame-tag+sync-code 14-bit dims,
    VP8L packed-u32 lossless header with its alpha bit, VP8X extended
    canvas with flag byte). VP8X fixtures nest a decoy VP8 chunk with
    DIFFERENT dims, so reading the wrong chunk hash-mismatches. The
    oracle enumerates the planted fields arithmetically. Header parse
    touches only leading bytes — row-count-bounded at 100 TB, zero
    shuffles."""
    imgs = mm.synthesize_webp_images(_docs(spark, sf_dir), "doc_id")
    return mm.webp_metadata(imgs)


# ---------------------------------------------------------------------------
# Paired / repeated-measures tests, text overlap, classifier calibration,
# link analysis and causal weighting.
# ---------------------------------------------------------------------------


# shared erf-tail replay fragment: expects a CTE named ``zz`` with a
# column ``zv``; yields ``pv`` with normal_sf(|zv|) as ``sf``.
_SF_TAIL = """
et AS (SELECT *, abs(zv) / sqrt(2.0) AS xx,
  1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS t FROM zz),
pv AS (SELECT *, (1.0 - (1.0 - (0.254829592 * t
  - 0.284496736 * t * t + 1.421413741 * t * t * t
  - 1.453152027 * t * t * t * t
  + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0
  AS sf FROM et)
"""


@register("wilcoxon_signed", oracle="""
-- Same 2^-20-grid per-user before/after means, same midrank table
-- over |d| (zero diffs counted but unranked), same tie-corrected
-- continuity-corrected z and A&S-erf two-sided p.
WITH src AS (
  SELECT user_id, event_id,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id,
    sum(CASE WHEN event_id % 2 = 0 THEN qv END) AS bs,
    count(*) FILTER (event_id % 2 = 0) AS bc,
    sum(CASE WHEN event_id % 2 = 1 THEN qv END) AS os,
    count(*) FILTER (event_id % 2 = 1) AS oc
  FROM src GROUP BY 1
), pairs AS (
  SELECT os * 1.0 / oc - bs * 1.0 / bc AS d
  FROM per WHERE bc > 0 AND oc > 0
), pv0 AS (
  SELECT abs(d) AS ad,
    count(*) FILTER (d > 0) AS cp,
    count(*) FILTER (d < 0) AS cn,
    count(*) FILTER (d = 0) AS cz
  FROM pairs GROUP BY 1
), rk AS (
  SELECT ad, cp, cn, cz, cp + cn AS t,
    coalesce(sum(cp + cn) OVER (ORDER BY ad
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv0
), ag AS (
  SELECT sum(cp + cn + cz) AS np, sum(cp + cn) AS n,
    sum((bef + (t + 1.0) / 2.0) * cp) AS wp,
    sum(CAST(t AS DOUBLE) * t * t - t) AS ties
  FROM rk
), st AS (
  SELECT np, n, wp,
    wp - n * (n + 1.0) / 4.0 AS zraw,
    sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - ties / 48.0) AS sig
  FROM ag
), zz AS (
  SELECT *, (zraw - sign(zraw) * 0.5) / sig AS zv FROM st
), """ + _SF_TAIL.strip() + """
SELECT CAST(np AS BIGINT) AS n_pairs, CAST(n AS BIGINT) AS n_nonzero,
  round(wp, 6) AS w_plus, round(zv, 6) AS z,
  round(2.0 * sf, 6) AS p_value
FROM pv
""")
def q_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of a paired per-user before/after
    shift: before = the user's mean (2^-20-grid) value over
    even-event_id events, after = over odd — both exact integer-sum /
    count IEEE ratios, so the paired diffs (and their tie structure)
    are bit-identical on both engines. The paired companion to
    mann_whitney on the same midrank machinery."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_id") % 2 == 0, qv)).alias("_bs"),
            F.count(F.when(F.col("event_id") % 2 == 0, 1)).alias("_bc"),
            F.sum(F.when(F.col("event_id") % 2 == 1, qv)).alias("_os"),
            F.count(F.when(F.col("event_id") % 2 == 1, 1)).alias("_oc"),
        )
        .filter((F.col("_bc") > 0) & (F.col("_oc") > 0))
    )
    pairs = per.select(
        (F.col("_bs").cast("double") / F.col("_bc")).alias("before"),
        (F.col("_os").cast("double") / F.col("_oc")).alias("after"),
    )
    return wilcoxon_signed_rank(pairs, "before", "after")


@register("cochran_q", oracle="""
-- Same planted three-detector block design, same exact integer
-- row/column sums, Wilson-Hilferty chi2(k-1) p replay.
WITH per AS (
  SELECT user_id, max(value) AS mx, count(*) AS c
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), long AS (
  SELECT user_id, 'm1' AS model,
    CASE WHEN mx > 60.0 THEN 1 ELSE 0 END AS y FROM per
  UNION ALL
  SELECT user_id, 'm2', CASE WHEN mx > 75.0 THEN 1 ELSE 0 END FROM per
  UNION ALL
  SELECT user_id, 'm3', CASE WHEN c % 3 = 0 THEN 1 ELSE 0 END FROM per
), rt AS (SELECT user_id, sum(y) AS ri FROM long GROUP BY 1),
ra AS (
  SELECT count(*) AS nb, sum(ri) AS nn, sum(ri * ri) AS r2 FROM rt
), ct AS (SELECT model, sum(y) AS cj FROM long GROUP BY 1),
ca AS (SELECT count(*) AS k, sum(cj * cj) AS c2 FROM ct),
st AS (
  SELECT nb, nn, k,
    (k - 1.0) * (k * c2 - CAST(nn AS DOUBLE) * nn)
      / (k * CAST(nn AS DOUBLE) - r2) AS q
  FROM ra, ca
), zz AS (
  SELECT *, (pow(q / (k - 1.0), 1.0 / 3.0)
    - (1.0 - 2.0 / (9.0 * (k - 1.0))))
    / sqrt(2.0 / (9.0 * (k - 1.0))) AS zv
  FROM st
), """ + _SF_TAIL.strip() + """
SELECT CAST(nb AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
  round(q, 6) AS q,
  round(CASE WHEN zv >= 0 THEN sf ELSE 1.0 - sf END, 6) AS p_value
FROM pv
""")
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over a complete binary block design: blocks = users,
    treatments = three planted 'detectors' on the user's history
    (max value > 60, max value > 75, event count % 3 == 0) — matched
    binary outcomes with a real success-rate asymmetry, the
    k-treatment generalization of McNemar."""
    from from_superset_to_clickhouse_spark.operators.stats import cochran_q

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    per = ev.groupBy("user_id").agg(
        F.max("value").alias("_mx"), F.count("*").alias("_c")
    )
    long = per.select(
        "user_id",
        F.expr(
            "stack(3, 'm1', CAST(_mx > 60.0 AS INT), "
            "'m2', CAST(_mx > 75.0 AS INT), "
            "'m3', CAST(_c % 3 = 0 AS INT)) AS (model, y)"
        ),
    )
    return cochran_q(long, "user_id", "model", "y")


@register("boot_ci", oracle="""
-- Same md5-Poisson multiplicities (shared 8dp thresholds), same
-- 2^-20-grid replicate means, same 5th/195th order statistics.
WITH base AS (
  SELECT CAST(event_id AS VARCHAR) AS u,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events WHERE value IS NOT NULL
), obs AS (
  SELECT count(*) AS n, sum(qv) * 1.0 / count(*) AS mo FROM base
), ks AS (SELECT CAST(unnest(range(200)) AS INTEGER) AS k),
mult AS (
  SELECT k, qv,
    CAST(CAST(('0x' || substr(md5('bs:' || u || ':' || CAST(k AS VARCHAR)),
      1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS uu
  FROM base CROSS JOIN ks
), m AS (
  SELECT k, qv,
    CASE WHEN uu < 0.36787944 THEN 0 WHEN uu < 0.73575888 THEN 1
         WHEN uu < 0.91969860 THEN 2 WHEN uu < 0.98101184 THEN 3
         WHEN uu < 0.99634015 THEN 4 WHEN uu < 0.99940582 THEN 5
         WHEN uu < 0.99991676 THEN 6 ELSE 7 END AS mm
  FROM mult
), per_k AS (
  SELECT k, sum(mm * qv) * 1.0 / sum(mm) AS mean_k
  FROM m GROUP BY 1
), ranked AS (
  SELECT mean_k, row_number() OVER (ORDER BY mean_k, k) AS r FROM per_k
), ci AS (
  SELECT count(*) AS b,
    min(CASE WHEN r = 5 THEN mean_k END) AS lo,
    min(CASE WHEN r = 195 THEN mean_k END) AS hi
  FROM ranked
)
SELECT CAST((SELECT n FROM obs) AS BIGINT) AS n,
  CAST(b AS BIGINT) AS n_boot,
  round((SELECT mo FROM obs) / 1048576.0, 6) AS mean_obs,
  round(lo / 1048576.0, 6) AS lo95,
  round(hi / 1048576.0, 6) AS hi95
FROM ci
""")
def q_boot_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile bootstrap CI for the mean event value via the
    deterministic md5-Poisson bootstrap: 200 replicates, each row's
    multiplicity inverted from md5(event_id:k) through shared 8dp
    Poisson(1) thresholds, values on the 2^-20 grid — both engines
    draw the identical resamples and read the identical 5th/195th
    order statistics."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        bootstrap_ci_hash,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return bootstrap_ci_hash(ev, "event_id", "value", n_boot=200)


@register("yule_k", oracle="""
-- Same word tokenization, same type-frequency moments.
WITH toks AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(
    lower(text), '[^a-z0-9'']+'), x -> x <> '')) AS tok
  FROM documents
), freq AS (
  SELECT source AS grp, tok, count(*) AS c FROM toks GROUP BY 1, 2
), ag AS (
  SELECT grp, sum(c) AS n, count(*) AS v,
    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
    sum(c * c) AS c2
  FROM freq GROUP BY 1
)
SELECT grp, CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS vocab,
  round(CAST(v AS DOUBLE) / n, 6) AS ttr,
  round(CAST(f1 AS DOUBLE) / v, 6) AS hapax_ratio,
  round(CASE WHEN n > 1 THEN CAST(c2 - n AS DOUBLE)
    / (CAST(n AS DOUBLE) * (n - 1.0)) END, 6) AS simpson_d,
  round(1.0e4 * CAST(c2 - n AS DOUBLE)
    / (CAST(n AS DOUBLE) * n), 6) AS yule_k
FROM ag
""")
def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile (TTR, hapax share, Simpson repeat
    probability, Yule's K) of the word-token stream per source — the
    length-robust 'template spam vs natural prose' characteristic on
    the same type-frequency table chao1/Good-Turing read."""
    from from_superset_to_clickhouse_spark.operators.text import (
        lexical_diversity,
        word_tokens,
    )

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(word_tokens(F.col("text"))).alias("tok")
    )
    return lexical_diversity(toks, "tok", "source")


@register("runs_test", oracle="""
-- Same per-type raw-value median (⌈n/2⌉-th order statistic), same
-- lag-window run count, same exact runs variance and A&S-erf p.
WITH src AS (
  SELECT event_type AS grp, event_id AS o, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT grp, o, v,
    count(*) OVER (PARTITION BY grp) AS n,
    row_number() OVER (PARTITION BY grp ORDER BY v, o) AS rn
  FROM src
), med AS (
  SELECT grp, min(v) AS m FROM ranked
  WHERE rn = floor((n + 1) / 2.0) GROUP BY 1
), signed AS (
  SELECT s.grp, s.o,
    CASE WHEN s.v > med.m THEN 1 ELSE 0 END AS s
  FROM src s JOIN med ON s.grp = med.grp
  WHERE s.v <> med.m
), flips AS (
  SELECT grp, s,
    CASE WHEN s <> lag(s) OVER (PARTITION BY grp ORDER BY o)
      THEN 1 ELSE 0 END AS nw
  FROM signed
), ag AS (
  SELECT grp, sum(s) AS a, sum(1 - s) AS b,
    coalesce(sum(nw), 0) + 1 AS r
  FROM flips GROUP BY 1
), st AS (
  SELECT grp, a, b, r,
    2.0 * a * b / (a + b) + 1.0 AS mu,
    sqrt(2.0 * a * b * (2.0 * a * b - (a + b))
      / (CAST(a + b AS DOUBLE) * (a + b) * (a + b - 1.0))) AS sig
  FROM ag
), zz AS (
  SELECT *, CASE WHEN sig > 0 THEN (r - mu) / sig END AS zv FROM st
), """ + _SF_TAIL.strip() + """
SELECT grp, CAST(a AS BIGINT) AS n_above, CAST(b AS BIGINT) AS n_below,
  CAST(r AS BIGINT) AS n_runs, round(zv, 6) AS z,
  round(2.0 * sf, 6) AS p_value
FROM pv
""")
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of above/below-median signs per event
    type in event_id order: is each type's value stream serially
    random, or does it cluster/alternate? Median = raw stored value at
    the ⌈n/2⌉-th order statistic (no arithmetic), so both engines
    binarize identically; every window partitioned by type."""
    from from_superset_to_clickhouse_spark.operators.stats import runs_test

    ev = _ev(spark, sf_dir)
    return runs_test(ev, "value", "event_id", "event_type")


_WINNOW_SQL = """
-- Same normalization, same 32-bit md5 gram hashes, same packed
-- (hash, rightmost-pos) window min, same df cap and pair threshold.
WITH base AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
), d AS (
  SELECT doc_id, length(s) - 6 AS ng, s FROM base WHERE length(s) >= 10
), grams AS (
  SELECT doc_id, ng, CAST(i AS BIGINT) AS pos,
    CAST(('0x' || substr(md5(substr(s, CAST(i AS INTEGER), 7)), 1, 8))
      AS BIGINT) AS h
  FROM d, unnest(range(1, ng + 1)) AS t(i)
), keys AS (
  SELECT doc_id, ng, pos, h * 1048576 + (1048576 - pos) AS key
  FROM grams
), wm AS (
  SELECT doc_id, ng, pos,
    min(key) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM keys
), fps AS (
  SELECT DISTINCT doc_id, CAST(floor(wmin / 1048576) AS BIGINT) AS fph
  FROM wm WHERE pos <= ng - 3
), dfq AS (
  SELECT fph FROM (
    SELECT fph, count(*) AS c FROM fps GROUP BY 1) WHERE c <= 20
), kept AS (SELECT f.doc_id, f.fph FROM fps f JOIN dfq USING (fph))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fph = b.fph AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""


@register("winnowing", oracle=_WINNOW_SQL)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprint pairs over the documents corpus:
    char-7-gram md5 hashes, window-4 rightmost-min fingerprints packed
    as h*2^20+(2^20-pos) (pure integer tie-break both engines replay),
    boilerplate hashes in >20 docs dropped, pairs sharing >= 2
    fingerprints — partial-overlap detection where whole-doc MinHash
    sees two different documents."""
    from from_superset_to_clickhouse_spark.operators.text import (
        winnow_shared_pairs,
    )

    return winnow_shared_pairs(
        _docs(spark, sf_dir), k=7, w=4, max_df=20, min_shared=2
    )


_ROUGE_SQL = """
-- Same 30-token truncation, same integer LCS fold (index-wrapped
-- elements so accumulator/list types unify), same P/R/F arithmetic.
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(
    lower(text), '[^a-z0-9'']+'), x -> x <> '')[1:30] AS t
  FROM documents
), pairs AS (
  SELECT c.doc_id, c.t AS xs, r.t AS ys
  FROM toks c JOIN toks r ON r.doc_id = c.doc_id + 1
  WHERE c.doc_id % 7 = 3 AND len(c.t) > 0 AND len(r.t) > 0
), d AS (
  SELECT doc_id, len(xs) AS nx, len(ys) AS ny,
    list_reduce(
      [list_transform(range(0, len(ys) + 1), z -> 0)] ||
        list_transform(range(1, len(xs) + 1), i -> [CAST(i AS INTEGER)]),
      (prev, ie) -> list_reduce(
        [[0]] || list_transform(range(1, len(ys) + 1),
                                j -> [CAST(j AS INTEGER)]),
        (cur, je) -> cur || [CASE WHEN xs[ie[1]] = ys[je[1]]
            THEN prev[len(cur)] + 1
            ELSE greatest(prev[len(cur) + 1], cur[-1]) END]
      )
    )[len(ys) + 1] AS lcs
  FROM pairs
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(nx AS INTEGER) AS n_x,
  CAST(ny AS INTEGER) AS n_y, CAST(lcs AS BIGINT) AS lcs,
  round(CAST(lcs AS DOUBLE) / nx, 6) AS rouge_p,
  round(CAST(lcs AS DOUBLE) / ny, 6) AS rouge_r,
  round(CASE WHEN lcs > 0 THEN
    2.0 * (CAST(lcs AS DOUBLE) / nx) * (CAST(lcs AS DOUBLE) / ny)
      / ((CAST(lcs AS DOUBLE) / nx) + (CAST(lcs AS DOUBLE) / ny))
    ELSE 0.0 END, 6) AS rouge_f
FROM d
"""


@register("rouge_l", oracle=_ROUGE_SQL)
def q_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L of each 7k+3 document against its successor doc on the
    first 30 word tokens: integer LCS DP as one codegen fold per pair
    (the dtw pattern with integer cells), then P/R/F. The order-aware
    contamination/summarization overlap metric."""
    from from_superset_to_clickhouse_spark.operators.mleval import rouge_l
    from from_superset_to_clickhouse_spark.operators.text import word_tokens

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.slice(word_tokens(F.col("text")), 1, 30).alias("_t")
    )
    cand = toks.filter(F.col("doc_id") % 7 == 3).select(
        "doc_id", F.col("_t").alias("xs")
    )
    ref = toks.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("_t").alias("ys")
    )
    pairs = cand.join(ref, "doc_id").filter(
        (F.size("xs") > 0) & (F.size("ys") > 0)
    )
    return rouge_l(pairs, "doc_id", "xs", "ys")


_PPL_TIERS_SQL = (
    """
-- Bigram-LM scores replayed verbatim (the bigram_lm oracle as a
-- subquery), then tie-coherent first-row-position terciles over the
-- distinct-score table and exact 1e-6-grid tier means.
WITH sc AS ("""
    + _BIGRAM_SQL
    + """),
pv AS (
  SELECT CAST(floor(bigram_logprob * 1e6 + 0.5) AS BIGINT) AS s6,
    count(*) AS c
  FROM sc GROUP BY 1
), cum AS (
  SELECT s6, c,
    coalesce(sum(c) OVER (ORDER BY s6
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
    sum(c) OVER () AS n
  FROM pv
), tiered AS (
  SELECT s6, c,
    1 + CASE WHEN bef >= ceil(1 * n / 3.0) THEN 1 ELSE 0 END
      + CASE WHEN bef >= ceil(2 * n / 3.0) THEN 1 ELSE 0 END AS tier
  FROM cum
)
SELECT CAST(tier AS INTEGER) AS tier, CAST(sum(c) AS BIGINT) AS n_docs,
  round(sum(s6 * c) * 1.0 / sum(c) / 1e6, 6) AS avg_score,
  round(min(s6) / 1e6, 6) AS lo,
  round(max(s6) / 1e6, 6) AS hi
FROM tiered GROUP BY 1
"""
)


@register("ppl_buckets", oracle=_PPL_TIERS_SQL)
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity tiering: head/middle/tail terciles of
    the bigram-LM doc scores with tie-coherent (first-row-position)
    bucket assignment; per-tier count + exact-grid mean + range. The
    quality-stratification step before mixing weights."""
    from from_superset_to_clickhouse_spark.operators.text import ppl_tiers

    return ppl_tiers(_docs(spark, sf_dir))


def _logreg_oracle_sql(iters: int = 8, lr: float = 2.0) -> str:
    """Unrolled gradient ascent: one MATERIALIZED CTE per step, each
    computing the d+1 avg-gradients at the previous grid point and
    landing the update back on the 1e-8 grid (platt pattern, d=4)."""
    ws = ["b", "a1", "a2", "a3", "a4"]
    zero = ", ".join(f"CAST(0.0 AS DOUBLE) AS {w}" for w in ws)
    steps = [f"s0 AS (SELECT {zero})"]
    zexpr = "q.b + q.a1 * x1 + q.a2 * x2 + q.a3 * x3 + q.a4 * x4"
    for k in range(1, iters + 1):
        gsel = ", ".join(
            [f"avg(y - pp) AS g0"]
            + [f"avg((y - pp) * x{j}) AS g{j}" for j in range(1, 5)]
        )
        upd = ", ".join(
            f"floor((p.{ws[j]} + {lr} * t.g{j}) * 1e8 + 0.5) / 1e8"
            f" AS {ws[j]}"
            for j in range(5)
        )
        steps.append(f"""
s{k} AS MATERIALIZED (
  SELECT {upd}
  FROM s{k - 1} p, (
    SELECT {gsel}
    FROM (SELECT y, x1, x2, x3, x4,
      1.0 / (1.0 + exp(-({zexpr}))) AS pp
      FROM src, s{k - 1} q)
  ) t
)""")
    fz = "f2.b + f2.a1 * x1 + f2.a2 * x2 + f2.a3 * x3 + f2.a4 * x4"
    return f"""
WITH src AS MATERIALIZED (
  SELECT CAST(CASE WHEN label < 5 THEN 1 ELSE 0 END AS DOUBLE) AS y,
    CAST(embedding[1] AS DOUBLE) AS x1,
    CAST(embedding[2] AS DOUBLE) AS x2,
    CAST(embedding[3] AS DOUBLE) AS x3,
    CAST(embedding[4] AS DOUBLE) AS x4
  FROM embeddings
),
{",".join(steps)}
SELECT (SELECT count(*) FROM src) AS n,
  CAST({iters} AS INTEGER) AS iters,
  f.b AS w0, f.a1 AS w1, f.a2 AS w2, f.a3 AS w3, f.a4 AS w4,
  (SELECT round(-avg(y * ln(pp + 1e-12)
      + (1.0 - y) * ln(1.0 - pp + 1e-12)), 6)
   FROM (SELECT y, 1.0 / (1.0 + exp(-({fz}))) AS pp
         FROM src, s{iters} f2)) AS log_loss,
  (SELECT round(avg(CASE WHEN (zz >= 0) = (y = 1.0)
      THEN 1.0 ELSE 0.0 END), 6)
   FROM (SELECT y, {fz} AS zz FROM src, s{iters} f2)) AS accuracy
FROM s{iters} f
"""


@register("logreg_quality", oracle=_logreg_oracle_sql(8, 2.0))
def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier: logistic regression of (label < 5)
    on the first four embedding dims via 8 unrolled gradient steps,
    weights landing on the 1e-8 grid every step (the platt_scale
    determinism contract at d = 4) — the trained upgrade of the
    hand-weighted heuristic gates. Oracle unrolls the identical
    avg-gradient -> grid walk in SQL."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        logistic_gd,
    )

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.select(
        F.when(F.col("label") < 5, 1.0).otherwise(0.0).alias("y"),
        *[
            F.element_at("embedding", i).cast("double").alias(f"x{i}")
            for i in range(1, 5)
        ],
    )
    return logistic_gd(
        src, "y", ["x1", "x2", "x3", "x4"], iters=8, lr=2.0
    )


_ECE_SQL = """
-- Same grid score, same md5-uniform outcome, same bin = min(floor
-- (score*10), 9) and exact per-bin ratios.
WITH src AS (
  SELECT floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
      / 1048576.0 AS s,
    CASE WHEN CAST(CAST(('0x' || substr(md5('cal:' ||
        CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
      / 4294967296.0
      < floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
        / 1048576.0
      THEN 1.0 ELSE 0.0 END AS y
  FROM events
), binned AS (
  SELECT least(CAST(floor(s * 10) AS INTEGER), 9) AS bin, s, y FROM src
), per AS (
  SELECT bin, count(*) AS nb, sum(s) AS ss, sum(y) AS sy
  FROM binned GROUP BY 1
), tot AS (SELECT sum(nb) AS n FROM per)
SELECT bin, CAST(nb AS BIGINT) AS n_bin,
  round(ss / nb, 6) AS conf,
  round(sy / nb, 6) AS acc,
  round(abs(ss / nb - sy / nb), 6) AS abs_gap,
  round(CAST(nb AS DOUBLE) / (SELECT n FROM tot)
    * abs(ss / nb - sy / nb), 6) AS wgap
FROM per
"""


@register("ece_bins", oracle=_ECE_SQL)
def q_ece_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of a planted near-calibrated scorer: score
    = (event_id % 997)/1000 (exact grid), outcome = md5-uniform <
    score — calibrated in expectation, so per-bin gaps measure
    sampling noise, not construction. conf/acc are exact ratios both
    engines replay."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        calibration_bins,
    )

    ev = _ev(spark, sf_dir)
    # score on the BINARY 2^-20 grid: a /1000 decimal grid makes
    # per-bin score sums land exactly on 6-decimal round boundaries
    # (mean of thousandths over ~10^3 rows IS a 6dp number), where
    # partition-order last-ulp noise decides the round — the binary
    # grid sums exactly in any order
    s = (
        F.floor(
            (F.col("event_id") % 997).cast("double")
            * F.lit(1048576.0)
            / F.lit(1000.0)
        )
        / F.lit(1048576.0)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("cal"), F.col("event_id"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    src = ev.select(s.alias("score"), (u < s).cast("int").alias("y"))
    return calibration_bins(src, "score", "y", bins=10)


_NMI_SQL = """
-- Same sign-octant cells, same contingency-count MI / sqrt(HcHk).
WITH src AS (
  SELECT (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
        + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
        + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS c,
    label AS k
  FROM embeddings
), cells AS (SELECT c, k, count(*) AS n FROM src GROUP BY 1, 2),
rowm AS (SELECT c, sum(n) AS nc, max(n) AS mx FROM cells GROUP BY 1),
colm AS (SELECT k, sum(n) AS nk FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM cells),
mi AS (
  SELECT sum(n / t.nn * ln(n * t.nn
    / (CAST(nc AS DOUBLE) * CAST(nk AS DOUBLE)))) AS mi
  FROM cells JOIN rowm USING (c) JOIN colm USING (k) CROSS JOIN tot t
), hc AS (
  SELECT sum(-(nc / t.nn) * ln(nc / t.nn)) AS hc, sum(mx) AS pur,
    count(*) AS kc
  FROM rowm CROSS JOIN tot t
), hk AS (
  SELECT sum(-(nk / t.nn) * ln(nk / t.nn)) AS hk, count(*) AS kk
  FROM colm CROSS JOIN tot t
)
SELECT CAST(t.nn AS BIGINT) AS n, CAST(kc AS BIGINT) AS k_clusters,
  CAST(kk AS BIGINT) AS k_classes,
  round(CAST(pur AS DOUBLE) / t.nn, 6) AS purity,
  round(CASE WHEN sqrt(hc * hk) > 0 THEN mi / sqrt(hc * hk)
    ELSE 0.0 END, 6) AS nmi
FROM mi CROSS JOIN hc CROSS JOIN hk CROSS JOIN tot t
"""


@register("nmi_purity", oracle=_NMI_SQL)
def q_nmi_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering eval: sign-octant 'clusters' from the first
    three embedding dims against the stored class label — purity +
    NMI from one contingency aggregate; did the cheap geometric cells
    recover any class structure?"""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        cluster_agreement,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def e(i: int):
        return F.element_at("embedding", i)

    c = (
        (e(1) > 0).cast("int") * 4
        + (e(2) > 0).cast("int") * 2
        + (e(3) > 0).cast("int")
    )
    src = emb.select(c.alias("cluster"), F.col("label"))
    return cluster_agreement(src, "cluster", "label")


_LEVENE_SQL = """
-- Same raw-value per-group median centering, same 2^-20-grid ANOVA.
WITH src0 AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL
), ranked AS (
  SELECT g, v, count(*) OVER (PARTITION BY g) AS n,
    row_number() OVER (PARTITION BY g ORDER BY v) AS rn
  FROM src0
), med AS (
  SELECT g, min(v) AS m FROM ranked
  WHERE rn = floor((n + 1) / 2.0) GROUP BY 1
), src AS (
  SELECT s.g, abs(s.v - med.m) AS v
  FROM src0 s JOIN med ON s.g = med.g
), gm AS (
  SELECT g, count(*) AS ng,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mg
  FROM src GROUP BY g
), tot AS (
  SELECT count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mu
  FROM src
), ssw AS (
  SELECT count(DISTINCT src.g) AS k,
    sum(floor((v - mg) * (v - mg) * 1048576.0)) / 1048576.0 AS ssw
  FROM src JOIN gm ON src.g = gm.g
), ssb AS (
  SELECT sum(floor(ng * (mg - mu) * (mg - mu) * 1048576.0))
    / 1048576.0 AS ssb
  FROM gm CROSS JOIN tot
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
  round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
  round((ssb / (k - 1.0)) / (ssw / (n - k)), 6) AS f_stat
FROM ssw CROSS JOIN ssb CROSS JOIN tot
"""


@register("levene", oracle=_LEVENE_SQL)
def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test of event values across
    the five event types: |x - median_g| centering (raw-value order
    statistic, no arithmetic), then the exact 2^-20-grid ANOVA — do
    the arms differ in SPREAD, the check plain ANOVA assumes away."""
    from from_superset_to_clickhouse_spark.operators.stats import levene_var

    return levene_var(_ev(spark, sf_dir), "value", "event_type")


def _hits_oracle_sql(iters: int = 8) -> str:
    """Unrolled HITS: per round, inbound-sum -> L2 norm -> 1e-9 grid,
    each state MATERIALIZED (CTE referenced twice per half-step)."""
    parts = [
        """e AS MATERIALIZED (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
)""",
        """nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
)""",
        "h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(f"""
ar{k} AS MATERIALIZED (
  SELECT n.node, coalesce(t.s, 0.0) AS a FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(p.h) AS s FROM e
    JOIN h{k - 1} p ON e.src = p.node GROUP BY 1) t USING (node)
), an{k} AS (SELECT sqrt(sum(a * a)) AS nrm FROM ar{k}),
a{k} AS MATERIALIZED (
  SELECT node, floor(a / nrm * 1e9 + 0.5) / 1e9 AS a
  FROM ar{k}, an{k}
),
hr{k} AS MATERIALIZED (
  SELECT n.node, coalesce(t.s, 0.0) AS h FROM nodes n LEFT JOIN (
    SELECT e.src AS node, sum(q.a) AS s FROM e
    JOIN a{k} q ON e.dst = q.node GROUP BY 1) t USING (node)
), hn{k} AS (SELECT sqrt(sum(h * h)) AS nrm FROM hr{k}),
h{k} AS MATERIALIZED (
  SELECT node, floor(h / nrm * 1e9 + 0.5) / 1e9 AS h
  FROM hr{k}, hn{k}
)""")
    return f"""
-- Same edge list, same 8 matvec -> L2-normalize -> 1e-9-grid rounds.
WITH {",".join(parts)}
SELECT CAST(h.node AS BIGINT) AS node, round(h.h, 6) AS hub,
  round(a.a, 6) AS authority
FROM h{iters} h JOIN a{iters} a USING (node)
"""


@register("hits", oracle=_hits_oracle_sql(8))
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (8 grid-rounded power steps) over the
    nation-level trade graph (customer-nation -> supplier-nation arcs
    from the orders⋈lineitem join): which nations CURATE trade vs
    which are traded WITH. The corpus-scale work is the one edge-list
    join; the iteration runs on ≤ 25 nodes. Oracle unrolls the same
    matvec -> L2-normalize -> 1e-9-grid walk."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
    )
    return gr.hits(edges, iters=8).select(
        F.col("node").cast("long").alias("node"), "hub", "authority"
    )


_SEMDEDUP_SQL = f"""
-- Same planted x1.25 copies, same sign-hexadecant cells, same
-- within-cell lower-id cosine>=0.93 drop policy.
WITH allv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
    list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.25)
  FROM embeddings WHERE vec_id % 5 = 0
), cells AS (
  SELECT vec_id, v,
    (CASE WHEN v[1] > 0 THEN 8 ELSE 0 END
   + CASE WHEN v[2] > 0 THEN 4 ELSE 0 END
   + CASE WHEN v[3] > 0 THEN 2 ELSE 0 END
   + CASE WHEN v[4] > 0 THEN 1 ELSE 0 END) AS cell
  FROM allv
), dropped AS (
  SELECT DISTINCT b.cell, b.vec_id
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_DOT.format(a='a.v', b='b.v')}
      / ({_NORM.format(a='a.v')} * {_NORM.format(a='b.v')}) >= 0.93
)
SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM cells c LEFT JOIN dropped d
  ON c.cell = d.cell AND c.vec_id = d.vec_id
"""


@register("semdedup", oracle=_SEMDEDUP_SQL)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop over sign-hexadecant cells: the embeddings
    corpus plus planted scaled copies (x1.25 of every 5th vector,
    cosine 1 with its source) — within-cell pairs only, drop iff a
    lower-id cell-mate sits at cosine >= 0.93. The semantic-dup
    policy exact/MinHash dedup cannot see; planted copies MUST come
    back keep=0."""
    from from_superset_to_clickhouse_spark.operators.similarity import (
        semdedup_cells,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x.cast("double")
        ).alias("embedding"),
    )
    dup = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.25)
        ).alias("embedding"),
    )
    allv = emb.unionByName(dup)

    def e(i: int):
        return F.element_at("embedding", i)

    cell = (
        (e(1) > 0).cast("int") * 8
        + (e(2) > 0).cast("int") * 4
        + (e(3) > 0).cast("int") * 2
        + (e(4) > 0).cast("int")
    )
    src = allv.select("vec_id", "embedding", cell.alias("cell"))
    return semdedup_cells(src, threshold=0.93)


_DSIR_SQL = """
-- Same md5-bucket features, add-one log-ratios, Gumbel-top-100 with
-- md5 noise.
WITH tok AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 1024 AS b
  FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(
      lower(text), '[^a-z0-9'']+'), x -> x <> '')) AS w
    FROM documents)
), ttok AS (
  SELECT t.b FROM tok t JOIN documents d USING (doc_id)
  WHERE d.lang = 'en'
), rc AS (SELECT b, count(*) AS cr FROM tok GROUP BY 1),
tc AS (SELECT b, count(*) AS ct FROM ttok GROUP BY 1),
rt AS (SELECT sum(cr) AS nr FROM rc),
tt AS (SELECT sum(ct) AS nt FROM tc),
ratio AS (
  SELECT coalesce(rc.b, tc.b) AS b,
    ln((coalesce(ct, 0) + 1) * 1.0 / (nt + 1024))
      - ln((coalesce(cr, 0) + 1) * 1.0 / (nr + 1024)) AS lr
  FROM rc FULL JOIN tc ON rc.b = tc.b CROSS JOIN rt CROSS JOIN tt
), pd AS (
  SELECT doc_id, b, count(*) AS c FROM tok GROUP BY 1, 2
), w AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
    round(sum(c * lr), 6) AS log_w
  FROM pd JOIN ratio USING (b) GROUP BY 1
), scored AS (
  SELECT doc_id, n_feats, log_w,
    round(log_w + (-ln(-ln(
      (CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)),
        1, 8)) AS BIGINT) + 0.5) / 4294967296.0))), 6) AS score
  FROM w
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
    AS INTEGER) AS rank,
  doc_id, n_feats, log_w, score
FROM scored ORDER BY score DESC, doc_id LIMIT 100
"""


@register("dsir", oracle=_DSIR_SQL)
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: hashed-unigram (1024 buckets, md5)
    importance weights of every document against the lang='en' target
    slice, then the deterministic Gumbel-top-100 resample — upsample
    target-like raw docs without a trained classifier. The bucket
    log-ratio table broadcasts; the only corpus-scale tail op is an
    ordered LIMIT."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        dsir_resample,
    )
    from from_superset_to_clickhouse_spark.operators.text import word_tokens

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == "en")
    return dsir_resample(
        docs, target, word_tokens(F.col("text")), buckets=1024, k=100
    )


def _ipw_oracle_sql(iters: int = 6, clip: float = 0.01) -> str:
    """Platt Newton walk on (x, t) unrolled (1e-8 grid per step), then
    the clipped Hajek-weighted sums."""
    steps = [
        "s0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)"
    ]
    for k in range(1, iters + 1):
        steps.append(f"""
s{k} AS MATERIALIZED (
  SELECT
    floor((p.a + (t.hyy * t.ga - t.hxy * t.gb)
      / (t.hxx * t.hyy - t.hxy * t.hxy)) * 1e8 + 0.5) / 1e8 AS a,
    floor((p.b + (t.hxx * t.gb - t.hxy * t.ga)
      / (t.hxx * t.hyy - t.hxy * t.hxy)) * 1e8 + 0.5) / 1e8 AS b
  FROM s{k - 1} p, (
    SELECT sum(x * (y - pp)) AS ga, sum(y - pp) AS gb,
      sum((x * x) * (pp * (1.0 - pp))) AS hxx,
      sum(x * (pp * (1.0 - pp))) AS hxy,
      sum(pp * (1.0 - pp)) AS hyy
    FROM (
      SELECT x, y, 1.0 / (1.0 + exp(-(x * q.a + q.b))) AS pp
      FROM src, s{k - 1} q
    )
  ) t
)""")
    return f"""
-- Same per-user grid covariate, md5-sigmoid treatment, platt Newton
-- propensity (1e-8 grid), clipped Hajek sums.
WITH per AS MATERIALIZED (
  SELECT user_id,
    (sum(CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT))
      * 1.0 / count(*)) / 1048576.0 AS x,
    count(*) AS c
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), base AS MATERIALIZED (
  SELECT x,
    CASE WHEN CAST(CAST(('0x' || substr(md5('ipw:' ||
        CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        / 4294967296.0
      < 1.0 / (1.0 + exp(-((x - 50.0) / 10.0)))
      THEN 1 ELSE 0 END AS t,
    c
  FROM per
), src AS MATERIALIZED (
  SELECT x, CAST(t AS DOUBLE) AS y FROM base
),
{",".join(steps)},
fin AS (
  SELECT count(*) AS n,
    sum((t / e) * yo) AS syt, sum(t / e) AS swt,
    sum((t / e) * (t / e)) AS swt2,
    sum(((1.0 - t) / (1.0 - e)) * yo) AS syc,
    sum((1.0 - t) / (1.0 - e)) AS swc,
    sum(((1.0 - t) / (1.0 - e)) * ((1.0 - t) / (1.0 - e))) AS swc2
  FROM (
    SELECT CAST(t AS DOUBLE) AS t,
      CAST(c AS DOUBLE) + 5.0 * CAST(t AS DOUBLE) AS yo,
      least(greatest(
        1.0 / (1.0 + exp(-(x * f.a + f.b))), {clip}), {1.0 - clip}) AS e
    FROM base, s{iters} f
  )
)
SELECT CAST(n AS BIGINT) AS n,
  (SELECT a FROM s{iters}) AS a, (SELECT b FROM s{iters}) AS b,
  round(syt / swt - syc / swc, 6) AS ate,
  round(swt * swt / swt2, 6) AS ess_t,
  round(swc * swc / swc2, 6) AS ess_c
FROM fin
"""


@register("ipw", oracle=_ipw_oracle_sql(6, 0.01))
def q_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPW treatment effect on an observational design planted from
    the corpus: covariate x = user's exact-grid mean value, treatment
    assigned md5-uniform < sigmoid((x-50)/10) (confounded BY x),
    outcome = event count + 5·t. Propensity via the platt Newton walk
    (1e-8 grid), Hajek-weighted ATE + per-arm effective sample
    sizes."""
    from from_superset_to_clickhouse_spark.operators.mleval import ipw_ate

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = ev.groupBy("user_id").agg(
        F.sum(qv).alias("_s"), F.count("*").alias("_c")
    )
    x = (F.col("_s").cast("double") / F.col("_c")) / F.lit(1048576.0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("ipw"), F.col("user_id"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    sig = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-((x - F.lit(50.0)) / F.lit(10.0)))
    )
    t = (u < sig).cast("int")
    src = per.select(
        x.alias("x"),
        t.alias("t"),
        (F.col("_c").cast("double") + 5.0 * t.cast("double")).alias("y"),
    )
    return ipw_ate(src, "x", "t", "y", iters=6, clip=0.01)


# ---------------------------------------------------------------------------
# Effect sizes, variance / normality / serial-correlation tests, ranking
# metrics, graph structure and corpus-quality signals.
# ---------------------------------------------------------------------------


@register("cohens_d", oracle="""
-- Same grid arm means, same re-quantized pooled SS, same exact ratios.
WITH src AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
    CAST(value AS DOUBLE) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), gm AS (
  SELECT g, count(*) AS ng,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mg
  FROM src GROUP BY 1
), ssw AS (
  SELECT sum(CAST(floor((v - mg) * (v - mg) * 1048576.0) AS BIGINT))
    / 1048576.0 AS ssw
  FROM src JOIN gm USING (g)
), wide AS (
  SELECT sum(CASE WHEN g = 'a' THEN ng END) AS na,
    sum(CASE WHEN g = 'b' THEN ng END) AS nb,
    min(CASE WHEN g = 'a' THEN mg END) AS ma,
    min(CASE WHEN g = 'b' THEN mg END) AS mb
  FROM gm
), fin AS (
  SELECT na, nb, ma, mb,
    sqrt(ssw / (CAST(na AS DOUBLE) + nb - 2.0)) AS sp
  FROM wide, ssw
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
  round(sp, 6) AS sd_pooled,
  round(CASE WHEN sp > 0 THEN (ma - mb) / sp END, 6) AS d
FROM fin
""")
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between the purchase and view arms of the
    event stream: arm means on the 2^-20 grid, squared deviations
    re-quantized before the pooled sum (anova_oneway discipline), so
    the standardized difference is an exact expression of exact
    ratios on both engines."""
    from from_superset_to_clickhouse_spark.operators.stats import cohens_d

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    side = F.when(F.col("event_type") == "purchase", "a").otherwise("b")
    return cohens_d(ev, "value", side)


@register("cliffs_delta", oracle="""
-- Same 0.5-grid midrank table, same tie-adjusted U, same Romano bands.
WITH src AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
    CAST(value AS DOUBLE) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), pv0 AS (
  SELECT v, count(*) FILTER (g = 'a') AS ca,
    count(*) FILTER (g = 'b') AS cb
  FROM src GROUP BY 1
), rk AS (
  SELECT ca, cb, ca + cb AS t,
    coalesce(sum(ca + cb) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv0
), ag AS (
  SELECT sum(ca) AS na, sum(cb) AS nb,
    sum((bef + (t + 1.0) / 2.0) * ca) AS ra
  FROM rk
), st AS (
  SELECT na, nb, ra - na * (na + 1.0) / 2.0 AS u,
    2.0 * (ra - na * (na + 1.0) / 2.0)
      / (CAST(na AS DOUBLE) * nb) - 1.0 AS delta
  FROM ag
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(u, 6) AS u, round(delta, 6) AS delta,
  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
       WHEN abs(delta) < 0.33 THEN 'small'
       WHEN abs(delta) < 0.474 THEN 'medium'
       WHEN delta IS NOT NULL THEN 'large' END AS magnitude
FROM st
""")
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size for the same purchase-vs-view
    comparison: delta = 2U/(n_a n_b) - 1 from the tie-adjusted
    rank-sum U on the 0.5-grid midrank table — never materializes a
    pair, exact IEEE sums on both engines."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cliffs_delta,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    side = F.when(F.col("event_type") == "purchase", "a").otherwise("b")
    return cliffs_delta(ev, "value", side)


# shared Wilson-Hilferty chi2 tail replay: expects a CTE named ``cc``
# with columns ``chi2v`` and ``dofv``; yields ``pv`` with the upper-tail
# p as ``pchi`` (z-sign handled).
_WH_TAIL = """
zc AS (SELECT *, (pow(chi2v / dofv, 1.0 / 3.0)
    - (1.0 - 2.0 / (9.0 * dofv))) / sqrt(2.0 / (9.0 * dofv)) AS zv
  FROM cc),
et AS (SELECT *, abs(zv) / sqrt(2.0) AS xx,
  1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS t FROM zc),
pv AS (SELECT *, CASE WHEN zv >= 0 THEN
    (1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
      + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
      + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0
  ELSE 1.0 - (1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
      + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
      + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0
  END AS pchi FROM et)
"""


@register("mood_median", oracle="""
-- Same prefix-window grand median, same drop-equals rule, same exact
-- integer cells and Wilson-Hilferty p on k-1 dof.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), pv0 AS (
  SELECT v, count(*) AS t FROM src GROUP BY 1
), cum AS (
  SELECT v, sum(t) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM pv0
), tot AS (SELECT sum(t) AS n FROM pv0),
med AS (
  SELECT min(v) AS med FROM cum, tot
  WHERE c >= CAST(ceil(n / 2.0) AS BIGINT)
), cells AS (
  SELECT g, count(*) FILTER (v > med) AS ab,
    count(*) FILTER (v < med) AS be
  FROM src, med WHERE v <> med GROUP BY 1
), totals AS (
  SELECT count(*) AS k, sum(ab) AS ta, sum(be) AS tb,
    sum(ab + be) AS nu
  FROM cells
), cc AS (
  SELECT k, ta, tb, nu,
    sum(
      (ab - (ab + be) * CAST(ta AS DOUBLE) / nu)
        * (ab - (ab + be) * CAST(ta AS DOUBLE) / nu)
        / ((ab + be) * CAST(ta AS DOUBLE) / nu)
      + (be - (ab + be) * CAST(tb AS DOUBLE) / nu)
        * (be - (ab + be) * CAST(tb AS DOUBLE) / nu)
        / ((ab + be) * CAST(tb AS DOUBLE) / nu)
    ) AS chi2v,
    CAST(k - 1 AS DOUBLE) AS dofv
  FROM cells, totals
  GROUP BY 1, 2, 3, 4
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT CAST(k AS BIGINT) AS k, CAST(nu AS BIGINT) AS n_used,
  CAST(ta AS BIGINT) AS n_above, CAST(tb AS BIGINT) AS n_below,
  round(chi2v, 6) AS chi2, round(pchi, 6) AS p_value
FROM pv
""")
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five event types: grand median =
    raw stored value at the ceil(n/2) order statistic from a
    per-distinct-value prefix window, equal-to-median rows drop
    (Mood's rule), chi2 cells are exact integers, Wilson-Hilferty p."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mood_median_test,
    )

    ev = _ev(spark, sf_dir)
    return mood_median_test(ev, "value", "event_type")


@register("bartlett", oracle="""
-- Same grid group means, same re-quantized SS, same C correction.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), gm AS (
  SELECT g, count(*) AS ng,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mg
  FROM src GROUP BY 1
), ss AS (
  SELECT g, min(ng) AS ng,
    sum(CAST(floor((v - mg) * (v - mg) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ss
  FROM src JOIN gm USING (g) GROUP BY 1
  HAVING min(ng) >= 2
    AND sum(CAST(floor((v - mg) * (v - mg) * 1048576.0) AS BIGINT))
      / 1048576.0 > 0
), ag AS (
  SELECT count(*) AS k, sum(ng) AS n, sum(ss) AS ssp,
    sum((ng - 1.0) * ln(ss / (ng - 1.0))) AS slog,
    sum(1.0 / (ng - 1.0)) AS sinv
  FROM ss
), cc AS (
  SELECT k, n,
    ((CAST(n AS DOUBLE) - k) * ln(ssp / (CAST(n AS DOUBLE) - k)) - slog)
      / (1.0 + (sinv - 1.0 / (CAST(n AS DOUBLE) - k))
          / (3.0 * (CAST(k AS DOUBLE) - 1.0))) AS chi2v,
    CAST(k - 1 AS DOUBLE) AS dofv
  FROM ag
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
  round(chi2v, 6) AS t_stat, round(pchi, 6) AS p_value
FROM pv
""")
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's equal-variance test across the five event types:
    per-group sums of squared grid-deviations are exact BIGINT-scaled
    ratios, ln of identical doubles is identical, T ~ chi2(k-1) via
    the shared Wilson-Hilferty replay."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        bartlett_var,
    )

    ev = _ev(spark, sf_dir)
    return bartlett_var(ev, "value", "event_type")


@register("kruskal_wallis", oracle="""
-- Same midrank table, same grid-floored mean ranks, same tie factor.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), pvg AS (
  SELECT v, g, count(*) AS c FROM src GROUP BY 1, 2
), per_val AS (
  SELECT v, sum(c) AS t FROM pvg GROUP BY 1
), pw AS (
  SELECT v, t,
    coalesce(sum(t) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM per_val
), grp AS (
  SELECT g, sum(c) AS ng,
    sum((bef + (t + 1.0) / 2.0) * c) AS rg
  FROM pvg JOIN pw USING (v) GROUP BY 1
), ties AS (
  SELECT sum(t) AS n,
    sum(CAST(t AS DOUBLE) * t * t - t) AS tt
  FROM pw
), dev AS (
  SELECT g, ng, n, tt,
    floor(rg / ng * 1048576.0) / 1048576.0
      - (CAST(n AS DOUBLE) + 1.0) / 2.0 AS dv
  FROM grp, ties
), ag AS (
  SELECT count(*) AS k, min(n) AS n, min(tt) AS tt,
    sum(ng * dv * dv) AS sb
  FROM dev
), cc AS (
  SELECT k, n,
    (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * sb)
      / (1.0 - tt / (CAST(n AS DOUBLE) * n * n - n)) AS chi2v,
    CAST(k - 1 AS DOUBLE) AS dofv
  FROM ag
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
  round(chi2v, 6) AS h_stat, round(pchi, 6) AS p_value
FROM pv
""")
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank ANOVA across the five event types: midranks
    from one distinct-value prefix window (0.5 grid), per-group mean
    ranks grid-floored before the quadratic, tie-corrected H ~
    chi2(k-1)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        kruskal_wallis,
    )

    ev = _ev(spark, sf_dir)
    return kruskal_wallis(ev, "value", "event_type")


@register("jarque_bera", oracle="""
-- Same grid mean, grid sd, and floor-quantized standardized moments.
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS m
  FROM src
), m2 AS (
  SELECT n, m,
    floor(sqrt((sum(CAST(floor((v - m) * (v - m) * 1048576.0)
        AS BIGINT)) / 1048576.0) / n) * 1048576.0) / 1048576.0 AS sd
  FROM src, m1 GROUP BY n, m
), mom AS (
  SELECT n, sd,
    sum(CAST(floor(((v - m) / sd) * ((v - m) / sd) * ((v - m) / sd)
      * 1048576.0) AS BIGINT)) / 1048576.0 AS s3,
    sum(CAST(floor(((v - m) / sd) * ((v - m) / sd) * ((v - m) / sd)
      * ((v - m) / sd) * 1048576.0) AS BIGINT)) / 1048576.0 AS s4
  FROM src, m2 GROUP BY n, sd
), cc AS (
  SELECT n, s3 / n AS s, s4 / n AS kk,
    CAST(n AS DOUBLE) / 6.0 * ((s3 / n) * (s3 / n)
      + (s4 / n - 3.0) * (s4 / n - 3.0) / 4.0) AS chi2v,
    2.0 AS dofv
  FROM mom
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT CAST(n AS BIGINT) AS n, round(s, 6) AS skewness,
  round(kk, 6) AS kurtosis, round(chi2v, 6) AS jb,
  round(pchi, 6) AS p_value
FROM pv
""")
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality gate on the full event value stream:
    grid mean -> grid sd -> standardized third/fourth moments, each
    z-power floor-quantized before its exact BIGINT-scaled sum;
    JB ~ chi2(2) via Wilson-Hilferty."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        jarque_bera,
    )

    ev = _ev(spark, sf_dir)
    return jarque_bera(ev, "value")


@register("poisson_rate", oracle="""
-- Same exact counts, literal exposures, A&S-erf two-sided p.
WITH agg AS (
  SELECT count(*) FILTER (event_type = 'error') AS ca,
    count(*) FILTER (event_type = 'click') AS cb
  FROM events WHERE event_type IN ('error', 'click')
), st AS (
  SELECT ca, cb, ca / 30.0 AS ra, cb / 30.0 AS rb,
    sqrt(ca / 900.0 + cb / 900.0) AS se
  FROM agg
), zz AS (
  SELECT *, CASE WHEN se > 0 THEN (ra - rb) / se END AS zv FROM st
),
""" + _SF_TAIL[_SF_TAIL.index("et"):] + """
SELECT CAST(ca AS BIGINT) AS c_a, CAST(cb AS BIGINT) AS c_b,
  round(ra, 6) AS rate_a, round(rb, 6) AS rate_b,
  round(zv, 6) AS z, round(2.0 * sf, 6) AS p_value
FROM pv
""")
def q_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test: are errors and clicks arriving at
    the same per-day rate over the 30-day fixture window? Both counts
    are exact integers and the exposures are literals, so z is an
    exact expression on both engines."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        poisson_rate_test,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isin("error", "click")
    )
    side = F.when(F.col("event_type") == "error", "a").otherwise("b")
    return poisson_rate_test(ev, side, exposure_a=30.0, exposure_b=30.0)


@register("sign_test", oracle="""
-- Same exact-ratio pairs, same drop-ties rule, same continuity z.
WITH src AS (
  SELECT user_id, event_id,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id,
    sum(CASE WHEN event_id % 2 = 0 THEN qv END) AS bs,
    count(*) FILTER (event_id % 2 = 0) AS bc,
    sum(CASE WHEN event_id % 2 = 1 THEN qv END) AS os,
    count(*) FILTER (event_id % 2 = 1) AS oc
  FROM src GROUP BY 1
), pairs AS (
  SELECT bs * 1.0 / bc AS x, os * 1.0 / oc AS y
  FROM per WHERE bc > 0 AND oc > 0
), agg AS (
  SELECT count(*) FILTER (y > x) AS pp,
    count(*) FILTER (y < x) AS mm,
    count(*) FILTER (y = x) AS nt
  FROM pairs
), zz AS (
  SELECT pp, mm, nt,
    CASE WHEN pp + mm > 0 THEN
      CASE WHEN (abs(pp - (pp + mm) / 2.0) - 0.5)
          / sqrt((pp + mm) / 4.0) < 0 THEN 0.0
        ELSE (abs(pp - (pp + mm) / 2.0) - 0.5) / sqrt((pp + mm) / 4.0)
      END END AS zv
  FROM agg
),
""" + _SF_TAIL[_SF_TAIL.index("et"):] + """
SELECT CAST(pp AS BIGINT) AS n_pos, CAST(mm AS BIGINT) AS n_neg,
  CAST(nt AS BIGINT) AS n_tie, round(zv, 6) AS z,
  round(2.0 * sf, 6) AS p_value
FROM pv
""")
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test of the per-user even-vs-odd-event_id mean
    split (the wilcoxon_signed pairing): both arm means are exact
    BIGINT-grid-sum / count ratios, so every sign is decided
    identically on both engines; continuity-corrected binomial z."""
    from from_superset_to_clickhouse_spark.operators.stats import sign_test

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_id") % 2 == 0, qv)).alias("_bs"),
            F.count(F.when(F.col("event_id") % 2 == 0, 1)).alias("_bc"),
            F.sum(F.when(F.col("event_id") % 2 == 1, qv)).alias("_os"),
            F.count(F.when(F.col("event_id") % 2 == 1, 1)).alias("_oc"),
        )
        .filter((F.col("_bc") > 0) & (F.col("_oc") > 0))
    )
    pairs = per.select(
        (F.col("_bs").cast("double") / F.col("_bc")).alias("before"),
        (F.col("_os").cast("double") / F.col("_oc")).alias("after"),
    )
    return sign_test(pairs, "before", "after")


@register("grubbs", oracle="""
-- Same planted spike, grid mean, re-quantized SS, same tie-broken
-- worst row.
WITH src AS (
  SELECT CAST(value AS DOUBLE)
    + CASE WHEN event_id = 424 THEN 900.0 ELSE 0.0 END AS v
  FROM events WHERE value IS NOT NULL
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS m
  FROM src
), m2 AS (
  SELECT n, m,
    sqrt((sum(CAST(floor((v - m) * (v - m) * 1048576.0) AS BIGINT))
      / 1048576.0) / n) AS sd
  FROM src, m1 GROUP BY n, m
), worst AS (
  SELECT v AS outv, abs(v - m) AS ad
  FROM src, m1 ORDER BY abs(v - m) DESC, v ASC LIMIT 1
)
SELECT CAST(n AS BIGINT) AS n, round(m, 6) AS mean,
  round(sd, 6) AS sd, outv AS outlier,
  round(CASE WHEN sd > 0 THEN ad / sd END, 6) AS g_stat
FROM m2, worst
""")
def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' max-deviation outlier test on the event value stream
    with a planted spike (value + 900 on event_id 424): grid mean and
    re-quantized SS give an exact sd; the worst row is a bounded
    TakeOrdered on (|dev| DESC, v ASC) — the planted spike wins
    deterministically on both engines."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        grubbs_test,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    spiked = ev.select(
        (
            F.col("value").cast("double")
            + F.when(F.col("event_id") == 424, 900.0).otherwise(0.0)
        ).alias("v")
    )
    return grubbs_test(spiked, "v")


@register("trimmed_stats", oracle="""
-- Same prefix-window ranks, kept-count weighting, winsor bounds.
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), pv0 AS (
  SELECT v, count(*) AS t FROM src GROUP BY 1
), cum AS (
  SELECT v, t,
    coalesce(sum(t) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv0
), tot AS (SELECT sum(t) AS n FROM pv0),
j AS (
  SELECT v, t, bef, n,
    CAST(floor(n * 0.1) AS BIGINT) AS g
  FROM cum, tot
), k AS (
  SELECT v, t, bef, n, g,
    greatest(0, least(bef + t, n - g)
      - greatest(bef + 1, g + 1) + 1) AS kept,
    CAST(floor(v * 1048576.0) AS BIGINT) AS qv,
    (bef < g + 1 AND bef + t >= g + 1) AS lo_hit,
    (bef < n - g AND bef + t >= n - g) AS hi_hit
  FROM j
), bounds AS (
  SELECT min(v) FILTER (lo_hit) AS vlo,
    min(v) FILTER (hi_hit) AS vhi
  FROM k
), agg AS (
  SELECT min(n) AS n,
    sum(kept * qv) AS ts, sum(kept) AS tn,
    sum(t * CAST(floor(least(greatest(v, vlo), vhi) * 1048576.0)
      AS BIGINT)) AS ws
  FROM k, bounds
)
SELECT CAST(n AS BIGINT) AS n, CAST(tn AS BIGINT) AS n_trimmed,
  round(ts * 1.0 / tn / 1048576.0, 6) AS trimmed_mean,
  round(vlo, 6) AS winsor_lo, round(vhi, 6) AS winsor_hi,
  round(ws * 1.0 / n / 1048576.0, 6) AS winsor_mean
FROM agg, bounds
""")
def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed and winsorized mean of the event value stream:
    ranks from the per-distinct-value prefix window, each retained
    value contributing kept_count * floor(v*2^20) to exact BIGINT
    sums; winsor bounds are the raw boundary order statistics."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        trimmed_stats,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return trimmed_stats(ev, "value", alpha=0.1)


@register("odds_ratio", oracle="""
-- Same user-day units, same exact cells, same Wald CI.
WITH ud AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
    max(value) AS mx, count(*) AS c
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
), flags AS (
  SELECT CASE WHEN mx > 70.0 THEN 1 ELSE 0 END AS a,
    CASE WHEN c >= 3 THEN 1 ELSE 0 END AS b
  FROM ud
), agg AS (
  SELECT count(*) FILTER (a = 1 AND b = 1) AS n11,
    count(*) FILTER (a = 1 AND b = 0) AS n10,
    count(*) FILTER (a = 0 AND b = 1) AS n01,
    count(*) FILTER (a = 0 AND b = 0) AS n00
  FROM flags
), st AS (
  SELECT n11, n10, n01, n00,
    (n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0) AS ok,
    CAST(n11 AS DOUBLE) * n00 / (CAST(n10 AS DOUBLE) * n01) AS orr,
    sqrt(1.0 / n11 + 1.0 / n10 + 1.0 / n01 + 1.0 / n00) AS se
  FROM agg
)
SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
  round(CASE WHEN ok THEN orr END, 6) AS odds_ratio,
  round(CASE WHEN ok THEN ln(orr) END, 6) AS log_or,
  round(CASE WHEN ok THEN exp(ln(orr) - 1.96 * se) END, 6) AS ci_lo,
  round(CASE WHEN ok THEN exp(ln(orr) + 1.96 * se) END, 6) AS ci_hi
FROM st
""")
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio with Wald CI over user-day units: exposure = the
    user-day hit a value above 70, outcome = the user-day had >= 3
    events (both probed non-degenerate at every fixture SF). All
    four cells exact integers; CI on the log scale."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        odds_ratio_2x2,
    )

    ev = _ev(spark, sf_dir).filter(F.col("user_id").isNotNull())
    ud = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.max("value").alias("_mx"), F.count("*").alias("_c")
    )
    flags = ud.select(
        (F.col("_mx") > 70.0).cast("int").alias("a"),
        (F.col("_c") >= 3).cast("int").alias("b"),
    )
    return odds_ratio_2x2(flags, "a", "b")


@register("cronbach", oracle="""
-- Same exact-ratio items, grid means, re-quantized variances, fixed
-- left-to-right row total.
WITH src AS (
  SELECT user_id, event_id,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id,
    sum(CASE WHEN event_id % 3 = 0 THEN qv END) * 1.0
      / count(*) FILTER (event_id % 3 = 0) / 1048576.0 AS x0,
    sum(CASE WHEN event_id % 3 = 1 THEN qv END) * 1.0
      / count(*) FILTER (event_id % 3 = 1) / 1048576.0 AS x1,
    sum(CASE WHEN event_id % 3 = 2 THEN qv END) * 1.0
      / count(*) FILTER (event_id % 3 = 2) / 1048576.0 AS x2
  FROM src GROUP BY 1
), cmpl AS (
  SELECT x0, x1, x2, (x0 + x1) + x2 AS tt
  FROM per
  WHERE x0 IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x0) * 1048576.0) / 1048576.0 AS m0,
    floor(avg(x1) * 1048576.0) / 1048576.0 AS m1_,
    floor(avg(x2) * 1048576.0) / 1048576.0 AS m2_,
    floor(avg(tt) * 1048576.0) / 1048576.0 AS mt
  FROM cmpl
), ss AS (
  SELECT n,
    sum(CAST(floor((x0 - m0) * (x0 - m0) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s0,
    sum(CAST(floor((x1 - m1_) * (x1 - m1_) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s1,
    sum(CAST(floor((x2 - m2_) * (x2 - m2_) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s2,
    sum(CAST(floor((tt - mt) * (tt - mt) * 1048576.0) AS BIGINT))
      / 1048576.0 AS st
  FROM cmpl, m1 GROUP BY n
), fin AS (
  SELECT n,
    ((0.0 + s0 / (n - 1.0)) + s1 / (n - 1.0)) + s2 / (n - 1.0)
      AS item_var,
    st / (n - 1.0) AS tot_var
  FROM ss
)
SELECT CAST(n AS BIGINT) AS n, CAST(3 AS BIGINT) AS k,
  round(item_var, 6) AS sum_item_var,
  round(tot_var, 6) AS total_var,
  round(1.5 * (1.0 - item_var / tot_var), 6) AS alpha
FROM fin
""")
def q_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over three per-user 'item scores' (mean value
    on the event_id mod-3 slices — parallel noisy measurements of the
    same user-level trait): each item is an exact BIGINT-grid-sum /
    count ratio; item/total variances use the two-pass grid."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cronbach_alpha,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = ev.groupBy("user_id").agg(
        *[
            (
                F.sum(F.when(F.col("event_id") % 3 == j, qv)).cast("double")
                / F.count(F.when(F.col("event_id") % 3 == j, 1))
                / F.lit(1048576.0)
            ).alias(f"item{j}")
            for j in range(3)
        ]
    )
    return cronbach_alpha(per, ["item0", "item1", "item2"])


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact daily mean-value series per event type: each daily
    mean is an exact BIGINT-grid-sum / count ratio (the wilcoxon
    pairing discipline), so both engines see bit-identical series."""
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    return ev.groupBy(
        F.col("event_type").alias("grp"), F.to_date("ts").alias("d")
    ).agg(
        (
            F.sum(qv).cast("double") / F.count("*") / F.lit(1048576.0)
        ).alias("dval")
    )


_DAILY_SQL = """
  SELECT event_type AS grp, CAST(ts AS DATE) AS d,
    sum(CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT)) * 1.0
      / count(*) / 1048576.0 AS dval
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


@register("durbin_watson", oracle="""
-- Same exact daily series, grid group mean, re-quantized sums.
WITH daily AS (
""" + _DAILY_SQL + """
), gm AS (
  SELECT grp, floor(avg(dval) * 1048576.0) / 1048576.0 AS mg
  FROM daily GROUP BY 1
), e AS (
  SELECT d.grp, d.d, d.dval - mg AS er
  FROM daily d JOIN gm USING (grp)
), lagged AS (
  SELECT grp, er,
    lag(er) OVER (PARTITION BY grp ORDER BY d) AS el
  FROM e
), agg AS (
  SELECT grp, count(*) AS n,
    sum(CASE WHEN el IS NOT NULL THEN
      CAST(floor((er - el) * (er - el) * 1048576.0) AS BIGINT)
    END) / 1048576.0 AS num,
    sum(CAST(floor(er * er * 1048576.0) AS BIGINT)) / 1048576.0 AS den
  FROM lagged GROUP BY 1
)
SELECT grp, CAST(n AS BIGINT) AS n,
  round(CASE WHEN den > 0 THEN num / den END, 6) AS dw
FROM agg
""")
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson lag-1 serial-correlation statistic of each event
    type's 30-point daily mean series: residuals center on the
    per-type grid mean; both quadratic sums floor-quantize each term
    before the exact BIGINT-scaled sum."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        durbin_watson,
    )

    return durbin_watson(_daily_series(spark, sf_dir), "dval", "d", "grp")


@register("ljung_box", oracle="""
-- Same daily series, one lag window per k, Wilson-Hilferty on 3 dof.
WITH daily AS (
""" + _DAILY_SQL + """
), gm AS (
  SELECT grp, floor(avg(dval) * 1048576.0) / 1048576.0 AS mg
  FROM daily GROUP BY 1
), z AS (
  SELECT d.grp, d.d, d.dval - mg AS zz_
  FROM daily d JOIN gm USING (grp)
), lagged AS (
  SELECT grp, zz_,
    lag(zz_, 1) OVER (PARTITION BY grp ORDER BY d) AS z1,
    lag(zz_, 2) OVER (PARTITION BY grp ORDER BY d) AS z2,
    lag(zz_, 3) OVER (PARTITION BY grp ORDER BY d) AS z3
  FROM z
), agg AS (
  SELECT grp, count(*) AS n,
    sum(CAST(floor(zz_ * zz_ * 1048576.0) AS BIGINT)) / 1048576.0 AS den,
    sum(CASE WHEN z1 IS NOT NULL THEN
      CAST(floor(zz_ * z1 * 1048576.0) AS BIGINT) END) / 1048576.0 AS n1,
    sum(CASE WHEN z2 IS NOT NULL THEN
      CAST(floor(zz_ * z2 * 1048576.0) AS BIGINT) END) / 1048576.0 AS n2,
    sum(CASE WHEN z3 IS NOT NULL THEN
      CAST(floor(zz_ * z3 * 1048576.0) AS BIGINT) END) / 1048576.0 AS n3
  FROM lagged GROUP BY 1
), cc AS (
  SELECT grp, n,
    CAST(n AS DOUBLE) * (n + 2.0) * (
      0.0 + (n1 / den) * (n1 / den) / (n - 1.0)
        + (n2 / den) * (n2 / den) / (n - 2.0)
        + (n3 / den) * (n3 / den) / (n - 3.0)
    ) AS chi2v,
    3.0 AS dofv
  FROM agg
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT grp, CAST(n AS BIGINT) AS n, round(chi2v, 6) AS q_stat,
  round(pchi, 6) AS p_value
FROM pv
""")
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box whiteness test (h=3) of the same daily series: all
    three lag autocorrelations from ONE partitioned window pass,
    every numerator/denominator term grid-quantized before summing;
    Q ~ chi2(3) via the shared Wilson-Hilferty replay."""
    from from_superset_to_clickhouse_spark.operators.stats import ljung_box

    return ljung_box(_daily_series(spark, sf_dir), "dval", "d", "grp", h=3)


@register("hurst", oracle="""
-- Same hourly count series, power-of-two block means, sequential
-- cumulative sums, grid-floored per-scale mean R/S, bounded fit.
WITH hourly AS (
  SELECT event_type AS grp, date_trunc('hour', ts) AS h,
    CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT grp, v,
    row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM hourly
), ex AS (
  SELECT grp, v, rn, ws,
    CAST(floor((rn - 1.0) / ws) AS BIGINT) AS blk
  FROM idx, unnest([8, 16, 32, 64]) AS t(ws)
), bm AS (
  SELECT grp, ws, blk, count(*) AS nb,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mb
  FROM ex GROUP BY 1, 2, 3
  HAVING count(*) = ws
), cd AS (
  SELECT e.grp, e.ws, e.blk, e.v - mb AS dev,
    sum(e.v - mb) OVER (PARTITION BY e.grp, e.ws, e.blk
      ORDER BY e.rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum
  FROM ex e JOIN bm USING (grp, ws, blk)
), per_blk AS (
  SELECT grp, ws, blk,
    max(cum) - least(min(cum), 0.0) AS r,
    sqrt((sum(CAST(floor(dev * dev * 1048576.0) AS BIGINT))
      / 1048576.0) / ws) AS s
  FROM cd GROUP BY 1, 2, 3
), per_ws AS (
  SELECT grp, ws,
    floor(avg(r / s) * 1048576.0) / 1048576.0 AS rs
  FROM per_blk WHERE s > 0 GROUP BY 1, 2
  HAVING floor(avg(r / s) * 1048576.0) / 1048576.0 > 0
), pts AS (
  SELECT grp, ln(CAST(ws AS DOUBLE)) AS x, ln(rs) AS y FROM per_ws
), reg AS (
  SELECT grp, count(*) AS k, sum(x) AS sx, sum(y) AS sy,
    sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts GROUP BY 1
), n_per AS (
  SELECT grp, count(*) AS n FROM idx GROUP BY 1
)
SELECT r.grp, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS n_scales,
  round(CASE WHEN k >= 2
      AND CAST(k AS DOUBLE) * sxx - sx * sx > 0
    THEN (CAST(k AS DOUBLE) * sxy - sx * sy)
      / (CAST(k AS DOUBLE) * sxx - sx * sx) END, 6) AS h
FROM reg r JOIN n_per USING (grp)
""")
def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent (R/S, scales 8/16/32/64) of each event type's
    hourly arrival-count series: counts are exact integers and every
    block size is a power of two, so block means are exact IEEE
    divisions; cumulative deviations run in deterministic sequential
    window order on both engines; per-scale mean R/S grid-floors
    before the bounded log-log regression."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        hurst_rs,
    )

    ev = _ev(spark, sf_dir)
    hourly = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count("*").cast("double").alias("cnt"))
    return hurst_rs(hourly, "cnt", "h", "grp")


@register("neyman_alloc", oracle="""
-- Same grid two-pass sd, grid-floored share terms, half-up allocs.
WITH src AS (
  SELECT event_type AS stratum, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), gm AS (
  SELECT stratum, count(*) AS nh,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mh
  FROM src GROUP BY 1
), ss AS (
  SELECT stratum, min(nh) AS nh,
    sum(CAST(floor((v - mh) * (v - mh) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ss
  FROM src JOIN gm USING (stratum) GROUP BY 1
), w AS (
  SELECT stratum, nh,
    CASE WHEN nh > 1 THEN sqrt(ss / (nh - 1.0)) ELSE 0.0 END AS sd,
    floor(CAST(nh AS DOUBLE)
      * CASE WHEN nh > 1 THEN sqrt(ss / (nh - 1.0)) ELSE 0.0 END
      * 1048576.0) / 1048576.0 AS tm
  FROM ss
), tot AS (SELECT sum(tm) AS tt FROM w)
SELECT stratum, CAST(nh AS BIGINT) AS n_stratum,
  round(sd, 6) AS sd,
  round(CASE WHEN tt > 0 THEN tm / tt ELSE 0.0 END, 6) AS share,
  CAST(floor(CASE WHEN tt > 0 THEN tm / tt ELSE 0.0 END
    * 1000.0 + 0.5) AS BIGINT) AS alloc
FROM w, tot
""")
def q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a 1000-unit eval budget across the
    five event types: per-stratum sd from the grid two-pass, share
    terms grid-floored before the bounded total, half-up integer
    allocations."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        neyman_allocation,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return neyman_allocation(ev, "event_type", "value", 1000)


@register("hhi", oracle="""
-- Same grid weight sums, 2^-40-quantized share squares.
WITH g AS (
  SELECT event_type AS k_,
    sum(CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT)) AS c
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1
), tot AS (SELECT sum(c) AS tt FROM g),
agg AS (
  SELECT count(*) AS kk, min(tt) AS tt,
    sum(CAST(floor((CAST(c AS DOUBLE) / tt) * (CAST(c AS DOUBLE) / tt)
      * 1099511627776.0) AS BIGINT)) / 1099511627776.0 AS hhi
  FROM g, tot GROUP BY tt
)
SELECT CAST(kk AS BIGINT) AS k, CAST(tt AS BIGINT) AS total,
  round(hhi, 6) AS hhi,
  round(CASE WHEN kk > 1 THEN
    (hhi - 1.0 / kk) / (1.0 - 1.0 / kk) END, 6) AS hhi_norm
FROM agg
""")
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of total event value across
    the five event types: weights on the 2^-20 grid, each share^2
    floor-quantized at 2^-40 before the bounded sum — the skew
    early-warning readout for partition planning."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        hhi_concentration,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return hhi_concentration(ev, "event_type", weight_col="value")


_RANKED_SQL = """
  SELECT CAST(ts AS DATE) AS q, CAST(value AS DOUBLE) AS s,
    CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END AS rel,
    event_id AS id
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
"""


@register("mrr", oracle="""
-- Same (score DESC, id ASC) per-query order, grid-floored 1/rank.
WITH ranked AS (
  SELECT q, rel,
    row_number() OVER (PARTITION BY q ORDER BY s DESC, id ASC) AS rk
  FROM (
""" + _RANKED_SQL + """
  )
), first_hit AS (
  SELECT q, min(rk) AS fr FROM ranked WHERE rel = 1 GROUP BY 1
), per_q AS (
  SELECT d.q, fr FROM (SELECT DISTINCT q FROM ranked) d
  LEFT JOIN first_hit USING (q)
), agg AS (
  SELECT count(*) AS nq, count(fr) AS nh,
    sum(CASE WHEN fr IS NOT NULL THEN
      CAST(floor(1.0 / fr * 1048576.0) AS BIGINT) / 1048576.0
      ELSE 0.0 END) AS srr
  FROM per_q
)
SELECT CAST(nq AS BIGINT) AS n_queries, CAST(nh AS BIGINT) AS n_hit,
  round(srr / nq, 6) AS mrr
FROM agg
""")
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank over 30 daily 'queries': candidates = the
    day's events ranked by (value DESC, event_id ASC), relevant =
    user_id % 7 == 0. Ranks from one query-partitioned row_number
    window; per-query 1/rank grid-floored before the cross-query
    mean."""
    from from_superset_to_clickhouse_spark.operators.mleval import mrr

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    ranked = ev.select(
        F.to_date("ts").alias("q"),
        F.col("value").alias("s"),
        (F.col("user_id") % 7 == 0).cast("int").alias("rel"),
        F.col("event_id").alias("id"),
    )
    return mrr(ranked, "q", "s", "rel", "id")


@register("map_at_k", oracle="""
-- Same windows, same grid-floored precision terms and per-query AP.
WITH ranked AS (
  SELECT q, rel,
    row_number() OVER (PARTITION BY q ORDER BY s DESC, id ASC) AS rk,
    sum(rel) OVER (PARTITION BY q ORDER BY s DESC, id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
  FROM (
""" + _RANKED_SQL + """
  )
), per_q AS (
  SELECT q,
    sum(CASE WHEN rel = 1 AND rk <= 10 THEN
      CAST(floor(CAST(hits AS DOUBLE) / rk * 1048576.0) AS BIGINT)
        / 1048576.0
      ELSE 0.0 END) AS ap_num,
    sum(rel) AS rtot
  FROM ranked GROUP BY 1
), ap AS (
  SELECT q, CASE WHEN rtot > 0 THEN
      CAST(floor(ap_num / least(rtot, 10) * 1048576.0) AS BIGINT)
        / 1048576.0
    ELSE 0.0 END AS ap
  FROM per_q
), agg AS (
  SELECT count(*) AS nq, sum(ap) AS sap FROM ap
)
SELECT CAST(nq AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
  round(sap / nq, 6) AS map
FROM agg
""")
def q_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 over the same 30 daily ranking queries as mrr: per-query
    AP sums <= 10 exact-ratio precision terms, each grid-floored, with
    AP itself re-quantized before the cross-query mean."""
    from from_superset_to_clickhouse_spark.operators.mleval import map_at_k

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    ranked = ev.select(
        F.to_date("ts").alias("q"),
        F.col("value").alias("s"),
        (F.col("user_id") % 7 == 0).cast("int").alias("rel"),
        F.col("event_id").alias("id"),
    )
    return map_at_k(ranked, "q", "s", "rel", "id", k=10)


@register("pr_auc", oracle="""
-- Same distinct-score blocks, cumulative counts, trapezoid sum.
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS s,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), pv0 AS (
  SELECT s, sum(y) AS p, count(*) AS c FROM src GROUP BY 1
), cum AS (
  SELECT s,
    sum(p) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
    sum(c) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at
  FROM pv0
), tot AS (SELECT sum(c) AS n, sum(p) AS np FROM pv0),
pts AS (
  SELECT n, np,
    CAST(tp AS DOUBLE) / np AS rec,
    CAST(tp AS DOUBLE) / n_at AS prec,
    lag(CAST(tp AS DOUBLE) / np, 1, 0.0)
      OVER (ORDER BY s DESC) AS rec0,
    lag(CAST(tp AS DOUBLE) / n_at, 1, 1.0)
      OVER (ORDER BY s DESC) AS prec0
  FROM cum, tot
)
SELECT CAST(min(n) AS BIGINT) AS n, CAST(min(np) AS BIGINT) AS n_pos,
  round(sum((rec - rec0) * (prec + prec0) / 2.0), 6) AS pr_auc
FROM pts
""")
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-coherent trapezoidal PR-AUC of 'value predicts purchase':
    cumulative (TP, n) from per-distinct-score counts + one prefix
    window over distinct scores; every PR point an exact integer
    ratio, bounded trapezoid sum."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        avg_precision,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    scored = ev.select(
        F.col("value").alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return avg_precision(scored, "s", "y")


@register("lift_table", oracle="""
-- Same tie-coherent starting-rank buckets, exact rate ratios.
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS s,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), pv0 AS (
  SELECT s, count(*) AS c, sum(y) AS p FROM src GROUP BY 1
), cum AS (
  SELECT s, c, p,
    coalesce(sum(c) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv0
), tot AS (SELECT sum(c) AS n, sum(p) AS np FROM pv0),
per AS (
  SELECT CAST(floor(bef * 10 / n) AS INTEGER) AS bucket,
    sum(c) AS nb, sum(p) AS pb, min(n) AS n, min(np) AS np
  FROM cum, tot GROUP BY 1
)
SELECT bucket, CAST(nb AS BIGINT) AS n_bucket,
  CAST(pb AS BIGINT) AS n_pos,
  round(CAST(pb AS DOUBLE) / nb, 6) AS rate,
  round(CASE WHEN np > 0 THEN (CAST(pb AS DOUBLE) / nb)
    / (CAST(np AS DOUBLE) / n) END, 6) AS lift
FROM per
""")
def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table of 'value predicts purchase': tie-coherent
    bucketing (every distinct-score block lands in the bucket of its
    starting rank), all rates exact integer ratios."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        lift_table,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    scored = ev.select(
        F.col("value").alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return lift_table(scored, "s", "y", buckets=10)


_SILH_CENTROIDS = {
    0: [0.0] * 64,
    1: [0.5] * 64,
    2: [1.0] * 64,
}


@register("silhouette", oracle="""
-- Same literal centroids, same fold order, grid-floored s terms.
WITH src AS (
  SELECT vec_id % 3 AS l, embedding AS e
  FROM embeddings
), d AS (
  SELECT l,
    sqrt(list_aggregate(list_transform(e,
      x -> (CAST(x AS DOUBLE) - 0.0) * (CAST(x AS DOUBLE) - 0.0)),
      'sum')) AS d0,
    sqrt(list_aggregate(list_transform(e,
      x -> (CAST(x AS DOUBLE) - 0.5) * (CAST(x AS DOUBLE) - 0.5)),
      'sum')) AS d1,
    sqrt(list_aggregate(list_transform(e,
      x -> (CAST(x AS DOUBLE) - 1.0) * (CAST(x AS DOUBLE) - 1.0)),
      'sum')) AS d2
  FROM src
), sil AS (
  SELECT l,
    CASE l WHEN 0 THEN d0 WHEN 1 THEN d1 ELSE d2 END AS own,
    CASE l WHEN 0 THEN least(d1, d2)
           WHEN 1 THEN least(d0, d2)
           ELSE least(d0, d1) END AS nearest
  FROM d
), s AS (
  SELECT l, CASE WHEN greatest(own, nearest) > 0 THEN
      CAST(floor((nearest - own) / greatest(own, nearest)
        * 1048576.0) AS BIGINT) / 1048576.0
    ELSE 0.0 END AS sv
  FROM sil
)
SELECT l AS label, CAST(count(*) AS BIGINT) AS n,
  round(sum(sv) / count(*), 6) AS silhouette
FROM s GROUP BY 1
""")
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette per cluster over the
    embeddings table with vec_id%3 cluster ids and three literal
    centroids — the O(n*k) silhouette form that ships at scale;
    distances are left-to-right codegen folds, per-point s
    grid-floored before the per-cluster mean."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        silhouette_centroid,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 3).alias("cl"), "embedding"
    )
    return silhouette_centroid(
        emb, "embedding", "cl", _SILH_CENTROIDS
    )


_GRAPH_EDGES_SQL = """
WITH d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 300 AS s, (doc_id * 11 + 1) % 300 AS t FROM d
  UNION ALL
  SELECT doc_id % 300, (doc_id * 17 + 2) % 300 FROM d
  UNION ALL
  SELECT doc_id % 20, (doc_id // 20) % 20 FROM d WHERE doc_id < 400
),
e0 AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM raw
  WHERE least(s, t) < greatest(s, t)
),
und AS (
  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0
),
deg AS (
  SELECT a AS node, count(*) AS dn FROM und GROUP BY 1
)
"""


@register("assortativity", oracle=_GRAPH_EDGES_SQL + """
, pairs AS (
  SELECT du.dn AS dx, dv.dn AS dy
  FROM und u JOIN deg du ON u.a = du.node
  JOIN deg dv ON u.b = dv.node
), agg AS (
  SELECT count(*) AS m2, sum(dx) AS sx, sum(dy) AS sy,
    sum(CAST(dx AS BIGINT) * dy) AS sxy,
    sum(CAST(dx AS BIGINT) * dx) AS sxx,
    sum(CAST(dy AS BIGINT) * dy) AS syy
  FROM pairs
), nodes AS (SELECT count(*) AS nn FROM deg),
fin AS (
  SELECT nn, m2,
    CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
    sqrt((CAST(m2 AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      * (CAST(m2 AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS den
  FROM agg, nodes
)
SELECT CAST(nn AS BIGINT) AS n_nodes,
  CAST(m2 // 2 AS BIGINT) AS m_edges,
  round(CASE WHEN den > 0 THEN num / den END, 6) AS assortativity
FROM fin
""")
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the shared skewed test graph (sparse
    periphery + dense K20-ish core -> strongly disassortative): the
    Pearson correlation of symmetrized endpoint degrees from exact
    BIGINT sums — engine-identical before the 6dp round."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        degree_assortativity,
    )

    return degree_assortativity(_kcore_edges(spark, sf_dir))


@register("edge_jaccard", oracle=_GRAPH_EDGES_SQL + """
, common AS (
  SELECT e.a AS u, e.b AS v, count(*) AS com
  FROM e0 e
  JOIN und n1 ON n1.a = e.a
  JOIN und n2 ON n2.a = e.b AND n2.b = n1.b
  WHERE n1.b <> e.a AND n1.b <> e.b
  GROUP BY 1, 2
  HAVING count(*) >= 1
)
SELECT u, v, CAST(com AS BIGINT) AS common,
  CAST(du.dn AS BIGINT) AS deg_u, CAST(dv.dn AS BIGINT) AS deg_v,
  round(CASE WHEN du.dn + dv.dn - 2 - com > 0 THEN
      CAST(com AS DOUBLE) / (du.dn + dv.dn - 2 - com)
    ELSE 1.0 END, 6) AS jaccard
FROM common JOIN deg du ON common.u = du.node
JOIN deg dv ON common.v = dv.node
""")
def q_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood Jaccard (tie strength) over the shared
    test graph: common neighbors from the triangle-pattern equi-join
    (candidates sum-of-deg^2, never all pairs), union size du+dv-2-c,
    all exact integers."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        edge_jaccard,
    )

    return edge_jaccard(_kcore_edges(spark, sf_dir), min_common=1)


@register("fleiss_kappa", oracle="""
-- Same exact-ratio means, same thresholds, 2^-40 P_e shares.
WITH src AS (
  SELECT user_id,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id, sum(qv) * 1.0 / count(*) / 1048576.0 AS m,
    count(*) AS c
  FROM src GROUP BY 1
), long AS (
  SELECT user_id,
    unnest([
      CASE WHEN m < 48.0 THEN 0 WHEN m < 52.0 THEN 1 ELSE 2 END,
      CASE WHEN m < 47.0 THEN 0 WHEN m < 53.0 THEN 1 ELSE 2 END,
      CAST(c % 3 AS INTEGER)
    ]) AS cat
  FROM per
), cells AS (
  SELECT user_id, cat, count(*) AS nij FROM long GROUP BY 1, 2
), subj AS (
  SELECT user_id, sum(nij * nij) AS sq FROM cells GROUP BY 1
), top AS (
  SELECT count(*) AS ns, sum(sq) AS ssq FROM subj
), cat AS (
  SELECT cat, sum(nij) AS cj FROM cells GROUP BY 1
), pe AS (
  SELECT min(ns) AS ns, min(ssq) AS ssq,
    sum(CAST(floor(
      (CAST(cj AS DOUBLE) / (CAST(ns AS DOUBLE) * 3.0))
      * (CAST(cj AS DOUBLE) / (CAST(ns AS DOUBLE) * 3.0))
      * 1099511627776.0) AS BIGINT)) / 1099511627776.0 AS pev
  FROM cat, top
), fin AS (
  SELECT ns, pev,
    (ssq - CAST(ns AS DOUBLE) * 3.0)
      / (CAST(ns AS DOUBLE) * 3.0 * 2.0) AS p_bar
  FROM pe
)
SELECT CAST(ns AS BIGINT) AS n_subjects, CAST(3 AS BIGINT) AS k_raters,
  round(p_bar, 6) AS p_bar, round(pev, 6) AS p_e,
  round(CASE WHEN pev < 1.0 THEN (p_bar - pev) / (1.0 - pev) END, 6)
    AS kappa
FROM fin
""")
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three synthetic raters assigning each user a
    tercile-ish category: raters 1 and 2 threshold the user's exact
    mean value (grid-sum ratio) at 48/52 and 47/53 (high agreement),
    rater 3 is count%3 (chance) — kappa lands mid-scale. Complete
    3-rating blocks by construction; P_e share^2 terms quantized at
    2^-40."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        fleiss_kappa,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = ev.groupBy("user_id").agg(
        (
            F.sum(qv).cast("double") / F.count("*") / F.lit(1048576.0)
        ).alias("_m"),
        F.count("*").alias("_c"),
    )
    long = per.select(
        "user_id",
        F.expr(
            "stack(3, "
            "'r1', CASE WHEN _m < 48.0 THEN 0 WHEN _m < 52.0 THEN 1 "
            "ELSE 2 END, "
            "'r2', CASE WHEN _m < 47.0 THEN 0 WHEN _m < 53.0 THEN 1 "
            "ELSE 2 END, "
            "'r3', CAST(_c % 3 AS INT)) AS (rater, cat)"
        ),
    )
    return fleiss_kappa(long, "user_id", "rater", "cat", k_raters=3)


_TOKS_SQL = """
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
"""


@register("mattr", oracle="""
-- Same tokenization, same interval-counting closed form.
WITH toks AS (
""" + _TOKS_SQL + """
), pos AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS p,
    unnest(t) AS tok, len(t) AS n
  FROM toks
), prevt AS (
  SELECT doc_id, p, n,
    coalesce(max(p) OVER (PARTITION BY doc_id, tok ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS prev
  FROM pos
), contrib AS (
  SELECT doc_id, min(n) AS nt,
    sum(greatest(least(p, n - 50)
      - greatest(p - 50 + 1, prev + 1, 0) + 1, 0)) AS sd
  FROM prevt GROUP BY 1
)
SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
  CAST(CASE WHEN nt >= 50 THEN nt - 50 + 1 ELSE 0 END AS BIGINT)
    AS n_windows,
  round(CASE WHEN nt >= 50
    THEN sd * 1.0 / (nt - 50 + 1) / 50.0 END, 6) AS mattr
FROM contrib
""")
def q_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR (window 50) per fixture document: the closed-form
    interval-counting MATTR — an exact ratio of exact integers, no
    grid, identical on any engine."""
    from from_superset_to_clickhouse_spark.operators.text import mattr

    return mattr(_docs(spark, sf_dir), "text", "doc_id", window=50)


@register("ngram_novelty", oracle="""
-- Same 5-gram construction, same min-doc-id first-occurrence rule.
WITH toks AS (
""" + _TOKS_SQL + """
), g0 AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(1, CAST(len(t) AS INTEGER) - 3),
      i -> array_to_string(t[i:i+4], ' ')))) AS g
  FROM toks WHERE len(t) >= 5
), fst AS (
  SELECT g, min(doc_id) AS f FROM g0 GROUP BY 1
), per AS (
  SELECT doc_id, count(*) AS ng,
    count(*) FILTER (f = doc_id) AS nv
  FROM g0 JOIN fst USING (g) GROUP BY 1
)
SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
  CAST(nv AS BIGINT) AS n_novel,
  round(nv * 1.0 / ng, 6) AS novelty
FROM per
""")
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence 5-gram novelty per fixture document: share of
    each doc's distinct word 5-grams first seen (min doc_id) in that
    doc — exact integer counts and ratios."""
    from from_superset_to_clickhouse_spark.operators.text import (
        ngram_novelty,
    )

    return ngram_novelty(_docs(spark, sf_dir), "text", "doc_id", n=5)


@register("bigram_entropy", oracle="""
-- Same bigram counts, ln-based log2, 2^-20-quantized terms.
WITH toks AS (
  SELECT source AS grp,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), big AS (
  SELECT grp,
    unnest(list_transform(range(1, CAST(len(t) AS INTEGER)),
      i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
  FROM toks WHERE len(t) >= 2
), c12 AS (
  SELECT grp, b.w1 AS w1, b.w2 AS w2, count(*) AS c12 FROM big
  GROUP BY 1, 2, 3
), c1 AS (
  SELECT grp, w1, sum(c12) AS c1 FROM c12 GROUP BY 1, 2
), tot AS (
  SELECT grp, sum(c12) AS n, count(*) AS d FROM c12 GROUP BY 1
), agg AS (
  SELECT t.grp, min(n) AS n, min(d) AS d,
    sum(CAST(floor(c12 * 1.0 / n
      * (ln(c1 * 1.0 / c12) / ln(2.0)) * 1048576.0) AS BIGINT))
      / 1048576.0 AS h
  FROM c12 JOIN c1 USING (grp, w1) JOIN tot t USING (grp)
  GROUP BY 1
)
SELECT grp, CAST(n AS BIGINT) AS n_bigrams,
  CAST(d AS BIGINT) AS n_distinct, round(h, 6) AS cond_entropy
FROM agg
""")
def q_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(w2|w1) per source: exact count
    ratios, ln-based log2, terms grid-quantized at 2^-20 before the
    per-group sum."""
    from from_superset_to_clickhouse_spark.operators.text import (
        bigram_conditional_entropy,
    )

    return bigram_conditional_entropy(_docs(spark, sf_dir), "text", "source")


@register("url_snapshot_dedup", oracle="""
-- Same planted layout, same canonical form, same md5 minhash family
-- (canonicalization itself is independently gated by url_canonical).
WITH d0 AS (SELECT doc_id, text FROM documents),
planted AS (
  SELECT d.doc_id,
    'http://ex.com/p' || CAST(d.doc_id // 2 AS VARCHAR) AS url_canon,
    d.doc_id % 2 AS snap,
    CASE WHEN d.doc_id % 2 = 1 AND (d.doc_id // 2) % 3 = 0
      THEN p.text ELSE d.text END AS body
  FROM d0 d LEFT JOIN d0 p ON p.doc_id = d.doc_id - 1
), toks AS (
  SELECT doc_id, url_canon, snap,
    list_filter(regexp_split_to_array(lower(body), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM planted
), sh AS (
  SELECT doc_id, url_canon, snap,
    CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(
             range(1, CAST(len(t) AS INTEGER) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      ELSE [array_to_string(t, ' ')]
    END AS s
  FROM toks
), sig AS (
  SELECT doc_id, url_canon, snap,
    list_transform(range(64), i ->
      list_min(list_transform(s, g -> md5(i::VARCHAR || ':' || g))))
      AS sg
  FROM sh
), latest AS (
  SELECT url_canon, max(snap) AS l FROM sig GROUP BY 1
), ref AS (
  SELECT s.url_canon, min(s.doc_id) AS ref_id,
    arg_min(s.sg, s.doc_id) AS ref_sig
  FROM sig s JOIN latest USING (url_canon)
  WHERE s.snap = l GROUP BY 1
), scored AS (
  SELECT s.doc_id, s.url_canon, s.snap,
    s.doc_id = ref_id AS is_ref,
    len(list_filter(range(64), i -> s.sg[i+1] = ref_sig[i+1]))
      / 64.0 AS sim
  FROM sig s JOIN ref USING (url_canon)
)
SELECT doc_id, url_canon, CAST(snap AS BIGINT) AS snapshot,
  round(CASE WHEN is_ref THEN 1.0 ELSE sim END, 6) AS sim_to_latest,
  (is_ref OR sim < 0.5) AS keep
FROM scored
""")
def q_url_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot URL dedup over a planted two-snapshot crawl:
    doc pairs (2k, 2k+1) share URL http://ex.com/p<k> (the old capture
    carries a messy scheme/port/utm variant that must canonicalize
    into the same group), and every third pair's recrawl reuses the
    old text verbatim — those old captures must drop (sim 1.0) while
    changed pairs keep both. md5-family MinHash, exact position-match
    similarity ratio."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        url_snapshot_dedup,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    prev = d.select(
        (F.col("doc_id") + 1).alias("_nid"),
        F.col("text").alias("_prev_text"),
    )
    i = F.col("doc_id")
    key = (i / 2).cast("long")
    planted = (
        d.join(prev, i == F.col("_nid"), "left")
        .select(
            "doc_id",
            F.when(
                i % 2 == 0,
                F.concat(
                    F.lit("HTTP://Ex.COM:80/p"),
                    key.cast("string"),
                    F.lit("?utm_source=x"),
                ),
            )
            .otherwise(
                F.concat(F.lit("http://ex.com/p"), key.cast("string"))
            )
            .alias("url"),
            (i % 2).alias("snap"),
            F.when(
                (i % 2 == 1) & (key % 3 == 0), F.col("_prev_text")
            )
            .otherwise(F.col("text"))
            .alias("body"),
        )
    )
    return url_snapshot_dedup(
        planted, "url", "snap", "body", "doc_id"
    )


@register("boilerplate_lines", oracle="""
-- Same planted lines, trimmed-line doc frequency, ordered reassembly.
WITH base AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
         THEN chr(10) || 'subscribe to our newsletter' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN chr(10) || 'copyright 2024 example corp' ELSE '' END
    || chr(10) || 'ref code ' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
), lines AS (
  SELECT doc_id,
    generate_subscripts(string_split(t, chr(10)), 1) AS pos,
    unnest(string_split(t, chr(10))) AS line
  FROM base
), freq AS (
  SELECT trim(line) AS norm, count(DISTINCT doc_id) AS dfd
  FROM lines WHERE trim(line) <> '' GROUP BY 1
), kept AS (
  SELECT doc_id, pos, line
  FROM lines LEFT JOIN freq ON trim(line) = norm
  WHERE trim(line) = '' OR coalesce(dfd, 0) <= 2
), re AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS body
  FROM kept GROUP BY 1
)
SELECT b.doc_id, coalesce(re.body, '') AS body
FROM base b LEFT JOIN re USING (doc_id)
""")
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup with planted boilerplate:
    every third doc gains a newsletter line, every fourth a copyright
    line (both exceed max_doc_freq=2 and must drop), and every doc a
    unique ref-code line (df=1, must survive). Ordered reassembly of
    the surviving lines, byte-for-byte replayable."""
    from from_superset_to_clickhouse_spark.operators.text import (
        remove_boilerplate_lines,
    )

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    t2 = F.concat(
        F.col("text"),
        F.when(
            i % 3 == 0, F.lit("\nsubscribe to our newsletter")
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 0, F.lit("\ncopyright 2024 example corp")
        ).otherwise(F.lit("")),
        F.lit("\nref code "),
        i.cast("string"),
    )
    planted = d.select("doc_id", t2.alias("body"))
    return remove_boilerplate_lines(
        planted, "body", "doc_id", max_doc_freq=2
    )


@register("welch_anova", oracle="""
-- Same grid means/SS, same Welch weights and Satterthwaite df2.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), gm AS (
  SELECT g, count(*) AS ng,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mg
  FROM src GROUP BY 1
), ss AS (
  SELECT g, min(ng) AS ng, min(mg) AS mg,
    sum(CAST(floor((v - mg) * (v - mg) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ss
  FROM src JOIN gm USING (g) GROUP BY 1
  HAVING min(ng) >= 2
    AND sum(CAST(floor((v - mg) * (v - mg) * 1048576.0) AS BIGINT))
      / 1048576.0 > 0
), ww AS (
  SELECT ng, mg,
    CAST(ng AS DOUBLE) / (ss / (ng - 1.0)) AS w
  FROM ss
), tot AS (
  SELECT count(*) AS k, sum(ng) AS n, sum(w) AS sw,
    sum(w * mg) AS swm
  FROM ww
), agg AS (
  SELECT k, n,
    sum(w * (mg - swm / sw) * (mg - swm / sw)) AS num,
    sum((1.0 - w / sw) * (1.0 - w / sw) / (ng - 1.0)) AS lam
  FROM ww, tot GROUP BY 1, 2
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
  round((num / (CAST(k AS DOUBLE) - 1.0))
    / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
        / (CAST(k AS DOUBLE) * k - 1.0) * lam), 6) AS f_stat,
  CAST(k - 1 AS BIGINT) AS df1,
  round((CAST(k AS DOUBLE) * k - 1.0) / (3.0 * lam), 6) AS df2
FROM agg
""")
def q_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic ANOVA across the five event types:
    grid two-pass means/variances, exact weight expressions — the
    equal-variance-free location gate paired with bartlett."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        welch_anova,
    )

    ev = _ev(spark, sf_dir)
    return welch_anova(ev, "value", "event_type")


@register("chisq_gof", oracle="""
-- Same exact cells, uniform expectation, Wilson-Hilferty p.
WITH cells AS (
  SELECT event_type AS kx, count(*) AS c
  FROM events WHERE event_type IS NOT NULL GROUP BY 1
), tot AS (
  SELECT sum(c) AS n, count(*) AS lv FROM cells
), cc AS (
  SELECT lv AS k, n,
    sum((c - CAST(n AS DOUBLE) / lv) * (c - CAST(n AS DOUBLE) / lv)
      / (CAST(n AS DOUBLE) / lv)) AS chi2v,
    CAST(lv - 1 AS DOUBLE) AS dofv
  FROM cells, tot GROUP BY 1, 2
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
  round(chi2v, 6) AS chi2, round(pchi, 6) AS p_value
FROM pv
""")
def q_chisq_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the event-type mix against the
    uniform 1/5 plan: exact integer cells, exact expected products,
    Wilson-Hilferty p on 4 dof."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        chisq_gof,
    )

    ev = _ev(spark, sf_dir)
    return chisq_gof(ev, "event_type")


@register("kendall_w", oracle="""
-- Same three detector metrics, per-rater midranks, exact S and ties.
WITH srcv AS (
  SELECT user_id, event_id,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv,
    CAST(value AS DOUBLE) AS v
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id,
    sum(qv) * 1.0 / count(*) / 1048576.0 AS m1,
    max(v) AS m2, CAST(count(*) AS DOUBLE) AS m3
  FROM srcv GROUP BY 1
), lng AS (
  SELECT user_id, 'm1' AS r, m1 AS v FROM per
  UNION ALL SELECT user_id, 'm2', m2 FROM per
  UNION ALL SELECT user_id, 'm3', m3 FROM per
), pv0 AS (
  SELECT r, v, count(*) AS t FROM lng GROUP BY 1, 2
), rk AS (
  SELECT r, v, t,
    coalesce(sum(t) OVER (PARTITION BY r ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv0
), ranked AS (
  SELECT l.user_id, bef + (t + 1.0) / 2.0 AS rkv
  FROM lng l JOIN rk USING (r, v)
), rsum AS (
  SELECT user_id, sum(rkv) AS ri FROM ranked GROUP BY 1
), ties AS (
  SELECT sum(CAST(t AS DOUBLE) * t * t - t) AS tt FROM rk
), nn AS (
  SELECT count(*) AS n, sum(ri) AS rt FROM rsum
), s AS (
  SELECT min(n) AS n,
    sum((ri - rt / n) * (ri - rt / n)) AS sst
  FROM rsum, nn
)
SELECT CAST(n AS BIGINT) AS n_subjects, CAST(3 AS BIGINT) AS m_raters,
  round(sst, 6) AS s_stat,
  round(CASE WHEN 9.0 * (CAST(n AS DOUBLE) * n * n - n) - 3.0 * tt > 0
    THEN 12.0 * sst
      / (9.0 * (CAST(n AS DOUBLE) * n * n - n) - 3.0 * tt) END, 6) AS w
FROM s, ties
""")
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W concordance of three per-user 'detectors' (exact
    grid-ratio mean value, max raw value, event count) ranking the
    user panel: per-rater midranks on the 0.5 grid, exact rank sums
    and tie terms — do the three signals order users consistently?"""
    from from_superset_to_clickhouse_spark.operators.stats import (
        kendall_w,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = ev.groupBy("user_id").agg(
        (
            F.sum(qv).cast("double") / F.count("*") / F.lit(1048576.0)
        ).alias("_m1"),
        F.max(F.col("value").cast("double")).alias("_m2"),
        F.count("*").cast("double").alias("_m3"),
    )
    long = per.select(
        "user_id",
        F.expr(
            "stack(3, 'm1', _m1, 'm2', _m2, 'm3', _m3) AS (rater, v)"
        ),
    )
    return kendall_w(long, "user_id", "rater", "v")


@register("page_trend", oracle="""
-- Same mod-3 slice means, bounded within-block midranks, exact L/z.
WITH srcv AS (
  SELECT user_id, event_id,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id,
    sum(CASE WHEN event_id % 3 = 0 THEN qv END) * 1.0
      / count(*) FILTER (event_id % 3 = 0) / 1048576.0 AS i0,
    sum(CASE WHEN event_id % 3 = 1 THEN qv END) * 1.0
      / count(*) FILTER (event_id % 3 = 1) / 1048576.0 AS i1,
    sum(CASE WHEN event_id % 3 = 2 THEN qv END) * 1.0
      / count(*) FILTER (event_id % 3 = 2) / 1048576.0 AS i2
  FROM srcv GROUP BY 1
), lng AS (
  SELECT user_id, 1 AS j, i0 AS v FROM per WHERE i0 IS NOT NULL
  UNION ALL SELECT user_id, 2, i1 FROM per WHERE i1 IS NOT NULL
  UNION ALL SELECT user_id, 3, i2 FROM per WHERE i2 IS NOT NULL
), cmpl AS (
  SELECT user_id FROM lng GROUP BY 1 HAVING count(*) = 3
), src2 AS (
  SELECT l.user_id, j, v FROM lng l JOIN cmpl USING (user_id)
), rk AS (
  SELECT a.user_id, a.j,
    1.0 + sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
      + (sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) - 1.0) / 2.0
      AS rkv
  FROM src2 a JOIN src2 b USING (user_id) GROUP BY 1, 2
), rj AS (
  SELECT j, sum(rkv) AS rj FROM rk GROUP BY 1
), blocks AS (SELECT count(*) AS m FROM cmpl),
lstat AS (
  SELECT sum(CAST(j AS DOUBLE) * rj) AS l, min(m) AS m
  FROM rj, blocks
), zz AS (
  SELECT l, m,
    CASE WHEN sqrt(CAST(m AS DOUBLE) * 9.0 * 16.0 * 2.0 / 144.0) > 0
      THEN (l - CAST(m AS DOUBLE) * 12.0)
        / sqrt(CAST(m AS DOUBLE) * 9.0 * 16.0 * 2.0 / 144.0)
    END AS zv
  FROM lstat
),
""" + _SF_TAIL[_SF_TAIL.index("et"):] + """
SELECT CAST(m AS BIGINT) AS n_blocks, CAST(3 AS BIGINT) AS k,
  round(l, 6) AS l_stat, round(zv, 6) AS z,
  round(CASE WHEN zv >= 0 THEN sf ELSE 1.0 - sf END, 6) AS p_value
FROM pv
""")
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-trend test over user blocks x three ordered
    'treatments' (the event_id mod-3 slice means, ordered by
    residue): within-block midranks from the bounded 3x3 self-join,
    exact L and z, one-sided erf p."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        page_trend,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = ev.groupBy("user_id").agg(
        *[
            (
                F.sum(F.when(F.col("event_id") % 3 == j, qv)).cast(
                    "double"
                )
                / F.count(F.when(F.col("event_id") % 3 == j, 1))
                / F.lit(1048576.0)
            ).alias(f"_i{j}")
            for j in range(3)
        ]
    )
    long = per.select(
        "user_id",
        F.expr(
            "stack(3, 1, _i0, 2, _i1, 3, _i2) AS (j, v)"
        ),
    ).filter(F.col("v").isNotNull())
    return page_trend(long, "user_id", "j", "v")


@register("energy_dist", oracle="""
-- Same grid quantization, same prefix-window pairwise-|diff| sums.
WITH src AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), pv0 AS (
  SELECT qv, count(*) FILTER (g = 'a') AS ca,
    count(*) FILTER (g = 'b') AS cb
  FROM src GROUP BY 1
), pw AS (
  SELECT qv, ca, cb,
    coalesce(sum(ca) OVER w, 0) AS ca_lt,
    coalesce(sum(cb) OVER w, 0) AS cb_lt,
    coalesce(sum(ca * qv) OVER w, 0) AS sa_lt,
    coalesce(sum(cb * qv) OVER w, 0) AS sb_lt
  FROM pv0
  WINDOW w AS (ORDER BY qv ROWS BETWEEN UNBOUNDED PRECEDING
    AND 1 PRECEDING)
), tot AS (
  SELECT sum(ca) AS na, sum(cb) AS nb,
    sum(ca * qv) AS sa, sum(cb * qv) AS sb
  FROM pv0
), agg AS (
  SELECT min(na) AS na, min(nb) AS nb,
    sum(ca * ((qv * cb_lt - sb_lt) + ((sb - sb_lt) - qv * (nb - cb_lt))))
      AS dxy,
    sum(ca * ((qv * ca_lt - sa_lt) + ((sa - sa_lt) - qv * (na - ca_lt))))
      AS dxx,
    sum(cb * ((qv * cb_lt - sb_lt) + ((sb - sb_lt) - qv * (nb - cb_lt))))
      AS dyy
  FROM pw, tot
), fin AS (
  SELECT na, nb,
    CAST(dxy AS DOUBLE) / (CAST(na AS DOUBLE) * nb) / 1048576.0 AS exy,
    CAST(dxx AS DOUBLE) / (CAST(na AS DOUBLE) * na) / 1048576.0 AS exx,
    CAST(dyy AS DOUBLE) / (CAST(nb AS DOUBLE) * nb) / 1048576.0 AS eyy
  FROM agg
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(exy, 6) AS e_xy, round(exx, 6) AS e_xx,
  round(eyy, 6) AS e_yy,
  round(2.0 * exy - exx - eyy, 6) AS energy
FROM fin
""")
def q_energy_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the purchase and view value samples:
    all three pairwise |difference| expectations from ONE prefix
    window over distinct 2^-20-grid values — exact integer sums,
    never a pair join."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        energy_distance,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    side = F.when(F.col("event_type") == "purchase", "a").otherwise("b")
    return energy_distance(ev, "value", side)


@register("tukey", oracle="""
-- Same grid means, pooled MSE, Tukey-Kramer q per ordered pair.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), gm AS (
  SELECT g, count(*) AS ng,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mg
  FROM src GROUP BY 1
), ssw AS (
  SELECT sum(CAST(floor((v - mg) * (v - mg) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ssw,
    count(*) AS n, count(DISTINCT g) AS k
  FROM src JOIN gm USING (g)
), pairs AS (
  SELECT a.g AS g1, b.g AS g2, a.ng AS n1, b.ng AS n2,
    a.mg AS m1, b.mg AS m2
  FROM gm a JOIN gm b ON a.g < b.g
), fin AS (
  SELECT g1, g2, n1, n2, m1, m2,
    sqrt(ssw / CAST(n - k AS DOUBLE) / 2.0
      * (1.0 / n1 + 1.0 / n2)) AS se
  FROM pairs, ssw
)
SELECT g1, g2, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  round(m1 - m2, 6) AS diff, round(se, 6) AS se,
  round(CASE WHEN se > 0 THEN abs(m1 - m2) / se END, 6) AS q_stat
FROM fin
""")
def q_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD pairwise q statistics across the five event
    types (10 ordered pairs): grid means, grid-re-quantized pooled
    MSE, pair table built from per-group means only."""
    from from_superset_to_clickhouse_spark.operators.stats import tukey_hsd

    ev = _ev(spark, sf_dir)
    return tukey_hsd(ev, "value", "event_type")


@register("ransac", oracle="""
-- Same daily series, planted outliers, md5 hypothesis picks, exact
-- 2-point lines, inlier band, (inliers DESC, h ASC) winner.
WITH daily AS (
  SELECT date_part('day', ts) AS d,
    sum(CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT)) * 1.0
      / count(*) / 1048576.0 AS m
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1
), pts0 AS (
  SELECT CAST(d AS DOUBLE) AS x,
    m + CASE WHEN d % 7 = 0 THEN 400.0 ELSE 0.0 END AS y
  FROM daily
), pts AS (
  SELECT x, y, row_number() OVER (ORDER BY x, y) - 1 AS i FROM pts0
), nn AS (SELECT count(*) AS n FROM pts),
hyp AS (
  SELECT h,
    CAST(('0x' || substr(md5('ransac:' || CAST(h AS VARCHAR) || ':1'),
      1, 8)) AS BIGINT) % n AS i1,
    CAST(('0x' || substr(md5('ransac:' || CAST(h AS VARCHAR) || ':2'),
      1, 8)) AS BIGINT) % n AS i2
  FROM range(16) t(h), nn
), lines AS (
  SELECT h, (p2.y - p1.y) / (p2.x - p1.x) AS b,
    p1.y - (p2.y - p1.y) / (p2.x - p1.x) * p1.x AS a
  FROM hyp JOIN pts p1 ON p1.i = i1 JOIN pts p2 ON p2.i = i2
  WHERE p1.x <> p2.x
), scored AS (
  SELECT h, a, b,
    count(*) FILTER (abs(y - (a + b * x)) <= 3.0) AS inl
  FROM pts, lines GROUP BY 1, 2, 3
), best AS (
  SELECT * FROM scored ORDER BY inl DESC, h ASC LIMIT 1
)
SELECT CAST(n AS BIGINT) AS n, CAST(h AS BIGINT) AS hypothesis,
  round(b, 6) AS slope, round(a, 6) AS intercept,
  CAST(inl AS BIGINT) AS n_inliers,
  round(CAST(inl AS DOUBLE) / n, 6) AS inlier_frac
FROM best, nn
""")
def q_ransac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANSAC line fit of the purchase daily-mean series
    with planted structural outliers (+400 on days divisible by 7):
    md5-picked 2-point hypotheses, exact-ratio slopes, inlier band
    tol=3 — the robust fit must ignore the planted days."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        ransac_line,
    )

    ev = _ev(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    daily = ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        (
            F.sum(qv).cast("double") / F.count("*") / F.lit(1048576.0)
        ).alias("m")
    )
    pts = daily.select(
        F.col("d").cast("double").alias("x"),
        (
            F.col("m")
            + F.when(F.col("d") % 7 == 0, 400.0).otherwise(0.0)
        ).alias("y"),
    )
    return ransac_line(pts, "x", "y", n_hypotheses=16, tol=3.0)


@register("brier", oracle="""
-- Same grid scorer, clamped bins, Murphy decomposition from exact
-- per-bin ratios.
WITH src AS (
  SELECT floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
      / 1048576.0 AS s,
    CASE WHEN CAST(CAST(('0x' || substr(md5('cal:' ||
        CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
      / 4294967296.0
      < floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
        / 1048576.0
      THEN 1 ELSE 0 END AS y
  FROM events
), binned AS (
  SELECT greatest(least(CAST(floor(s * 10) AS INTEGER), 9), 0) AS bin,
    s, y
  FROM src
), per AS (
  SELECT bin, count(*) AS nb, sum(y) AS pb, sum(s) AS sb,
    sum(CAST(floor((s - y) * (s - y) * 1048576.0) AS BIGINT))
      / 1048576.0 AS sq
  FROM binned GROUP BY 1
), tot AS (SELECT sum(nb) AS n, sum(pb) AS np FROM per),
agg AS (
  SELECT min(n) AS n, min(np) AS np, sum(sq) AS bs,
    sum(nb * (sb / nb - CAST(pb AS DOUBLE) / nb)
      * (sb / nb - CAST(pb AS DOUBLE) / nb)) AS rel,
    sum(nb * (CAST(pb AS DOUBLE) / nb - CAST(np AS DOUBLE) / n)
      * (CAST(pb AS DOUBLE) / nb - CAST(np AS DOUBLE) / n)) AS res
  FROM per, tot
)
SELECT CAST(n AS BIGINT) AS n,
  round(bs / n, 6) AS brier,
  round(rel / n, 6) AS reliability,
  round(res / n, 6) AS resolution,
  round(CAST(np AS DOUBLE) / n * (1.0 - CAST(np AS DOUBLE) / n), 6)
    AS uncertainty
FROM agg
""")
def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + Murphy decomposition of the planted calibrated
    scorer (the ece_bins design: binary-grid score, md5-uniform
    outcome): BS = REL - RES + UNC from exact per-bin ratios."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        brier_decomposition,
    )

    ev = _ev(spark, sf_dir)
    s = (
        F.floor(
            (F.col("event_id") % 997).cast("double")
            * F.lit(1048576.0)
            / F.lit(1000.0)
        )
        / F.lit(1048576.0)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("cal"), F.col("event_id"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    src = ev.select(s.alias("score"), (u < s).cast("int").alias("y"))
    return brier_decomposition(src, "score", "y", bins=10)


@register("token_f1", oracle="""
-- Same tokenization, multiset min-count overlap per doc pair.
WITH toks AS (
""" + _TOKS_SQL + """
), ev AS (
  SELECT doc_id // 2 AS pair, t AS xs FROM toks WHERE doc_id % 2 = 0
), od AS (
  SELECT doc_id // 2 AS pair, t AS ys FROM toks WHERE doc_id % 2 = 1
), pairs AS (
  SELECT ev.pair, xs, ys FROM ev JOIN od USING (pair)
), xc AS (
  SELECT pair, unnest(xs) AS tok FROM pairs
), yc AS (
  SELECT pair, unnest(ys) AS tok FROM pairs
), xcnt AS (
  SELECT pair, tok, count(*) AS cx FROM xc GROUP BY 1, 2
), ycnt AS (
  SELECT pair, tok, count(*) AS cy FROM yc GROUP BY 1, 2
), merged AS (
  SELECT pair,
    sum(least(coalesce(cx, 0), coalesce(cy, 0))) AS ov
  FROM xcnt FULL OUTER JOIN ycnt USING (pair, tok)
  GROUP BY 1
), base AS (
  SELECT pair, len(xs) AS sx, len(ys) AS sy FROM pairs
), fin AS (
  SELECT b.pair, sx, sy, coalesce(ov, 0) AS ov,
    CASE WHEN sx > 0 THEN coalesce(ov, 0) * 1.0 / sx END AS p,
    CASE WHEN sy > 0 THEN coalesce(ov, 0) * 1.0 / sy END AS r
  FROM base b LEFT JOIN merged USING (pair)
)
SELECT pair, CAST(sx AS BIGINT) AS n_x, CAST(sy AS BIGINT) AS n_y,
  CAST(ov AS BIGINT) AS overlap,
  round(p, 6) AS precision, round(r, 6) AS recall,
  round(CASE WHEN ov > 0 AND p IS NOT NULL AND r IS NOT NULL
    THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
FROM fin
""")
def q_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-multiset F1 between paired docs (2k vs 2k+1) — the
    SQuAD-style overlap metric over word-token multisets; exact
    integer overlap counts and ratios."""
    from from_superset_to_clickhouse_spark.operators.mleval import token_f1
    from from_superset_to_clickhouse_spark.operators.text import (
        word_tokens,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", word_tokens(F.col("text")).alias("t")
    )
    ev_side = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("long").alias("pair"),
        F.col("t").alias("xs"),
    )
    od_side = d.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") / 2).cast("long").alias("pair"),
        F.col("t").alias("ys"),
    )
    pairs = ev_side.join(od_side, "pair")
    return token_f1(pairs, "pair", "xs", "ys")


@register("entity_density", oracle="""
-- Same whitespace tokens, same prefix-class tests, exact ratios.
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
), per AS (
  SELECT doc_id, count(*) AS nt,
    count(*) FILTER (regexp_matches(t, '^[A-Z][a-z]')) AS nc,
    count(*) FILTER (regexp_matches(t, '^[0-9][0-9.,%]*$')) AS nn,
    count(*) FILTER (regexp_matches(t, '^https?://')) AS nu
  FROM toks GROUP BY 1
)
SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
  CAST(nc AS BIGINT) AS n_caps, CAST(nn AS BIGINT) AS n_nums,
  CAST(nu AS BIGINT) AS n_urls,
  round(nc * 1.0 / nt, 6) AS cap_density,
  round(nn * 1.0 / nt, 6) AS num_density
FROM per
""")
def q_entity_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-entity density (capitalized / numeric / URL whitespace
    tokens) per fixture document: exact integer counts over the raw
    token stream, prefix-class tests only (no word-boundary regex)."""
    from from_superset_to_clickhouse_spark.operators.text import (
        entity_density,
    )

    return entity_density(_docs(spark, sf_dir), "text", "doc_id")


@register("corr_matrix", oracle="""
-- Same per-user metrics, grid means, re-quantized moment sums.
WITH srcv AS (
  SELECT user_id,
    CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS qv,
    CAST(value AS DOUBLE) AS v
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), per AS (
  SELECT user_id,
    sum(qv) * 1.0 / count(*) / 1048576.0 AS x0,
    max(v) AS x1, CAST(count(*) AS DOUBLE) AS x2
  FROM srcv GROUP BY 1
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x0) * 1048576.0) / 1048576.0 AS m0,
    floor(avg(x1) * 1048576.0) / 1048576.0 AS m1_,
    floor(avg(x2) * 1048576.0) / 1048576.0 AS m2_
  FROM per
), mom AS (
  SELECT n,
    sum(CAST(floor((x0 - m0) * (x0 - m0) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s00,
    sum(CAST(floor((x0 - m0) * (x1 - m1_) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s01,
    sum(CAST(floor((x0 - m0) * (x2 - m2_) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s02,
    sum(CAST(floor((x1 - m1_) * (x1 - m1_) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s11,
    sum(CAST(floor((x1 - m1_) * (x2 - m2_) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s12,
    sum(CAST(floor((x2 - m2_) * (x2 - m2_) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s22
  FROM per, m1 GROUP BY n
)
SELECT 'mean_v' AS x, 'max_v' AS y, CAST(n AS BIGINT) AS n,
  round(CASE WHEN sqrt(s00 * s11) > 0
    THEN s01 / sqrt(s00 * s11) END, 6) AS r FROM mom
UNION ALL
SELECT 'mean_v', 'cnt', CAST(n AS BIGINT),
  round(CASE WHEN sqrt(s00 * s22) > 0
    THEN s02 / sqrt(s00 * s22) END, 6) FROM mom
UNION ALL
SELECT 'max_v', 'cnt', CAST(n AS BIGINT),
  round(CASE WHEN sqrt(s11 * s22) > 0
    THEN s12 / sqrt(s11 * s22) END, 6) FROM mom
""")
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over three per-user metrics (exact
    grid-ratio mean value, max value, event count — the kendall_w
    panel): 3 ordered pairs from one means pass + one moments pass,
    all grid-re-quantized exact sums."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        corr_matrix,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    qv = F.floor(F.col("value").cast("double") * F.lit(1048576.0))
    per = ev.groupBy("user_id").agg(
        (
            F.sum(qv).cast("double") / F.count("*") / F.lit(1048576.0)
        ).alias("mean_v"),
        F.max(F.col("value").cast("double")).alias("max_v"),
        F.count("*").cast("double").alias("cnt"),
    )
    return corr_matrix(per, ["mean_v", "max_v", "cnt"])


@register("anova_effect", oracle="""
-- Same grid SSB/SSW/SST, same effect-size ratios.
WITH src AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), gm AS (
  SELECT g, floor(avg(v) * 1048576.0) / 1048576.0 AS mg
  FROM src GROUP BY 1
), tot AS (
  SELECT count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS m
  FROM src
), agg AS (
  SELECT min(n) AS n, count(DISTINCT g) AS k,
    sum(CAST(floor((v - mg) * (v - mg) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ssw,
    sum(CAST(floor((v - m) * (v - m) * 1048576.0) AS BIGINT))
      / 1048576.0 AS sst
  FROM src JOIN gm USING (g), tot
), fin AS (
  SELECT n, k, ssw, sst, sst - ssw AS ssb,
    ssw / (CAST(n AS DOUBLE) - k) AS mse
  FROM agg
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
  round(CASE WHEN sst > 0 THEN ssb / sst END, 6) AS eta_sq,
  round(CASE WHEN sst + mse > 0 THEN
    (ssb - (CAST(k AS DOUBLE) - 1.0) * mse) / (sst + mse) END, 6)
    AS omega_sq,
  round(CASE WHEN ssb / sst < 1.0 THEN
    sqrt((ssb / sst) / (1.0 - ssb / sst)) END, 6) AS cohens_f
FROM fin
""")
def q_anova_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANOVA effect sizes (eta^2, omega^2, Cohen's f) of event_type on
    value — the magnitude readout behind the anova entry's F."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        anova_effect_sizes,
    )

    ev = _ev(spark, sf_dir)
    return anova_effect_sizes(ev, "value", "event_type")


@register("prop_power", oracle="""
-- Same exact rates, literal z quantiles, classical n formula.
WITH agg AS (
  SELECT count(*) FILTER (event_type = 'purchase') AS na,
    sum(CASE WHEN event_type = 'purchase' AND CAST(value AS DOUBLE)
      > 60.0 THEN 1 ELSE 0 END) AS sa,
    count(*) FILTER (event_type = 'view') AS nb,
    sum(CASE WHEN event_type = 'view' AND CAST(value AS DOUBLE)
      > 60.0 THEN 1 ELSE 0 END) AS sb
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), st AS (
  SELECT na, nb,
    CAST(sa AS DOUBLE) / na AS pa, CAST(sb AS DOUBLE) / nb AS pb,
    CAST(sa + sb AS DOUBLE) / (CAST(na AS DOUBLE) + nb) AS pbar
  FROM agg
), fin AS (
  SELECT na, nb, pa, pb, abs(pa - pb) AS delta,
    1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
      + 0.841621 * sqrt(pa * (1.0 - pa) + pb * (1.0 - pb)) AS num
  FROM st
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
  round(delta, 6) AS abs_lift,
  CAST(CASE WHEN delta > 0
    THEN ceil(num * num / (delta * delta)) END AS BIGINT)
    AS n_required,
  CASE WHEN delta > 0 THEN
    least(CAST(na AS DOUBLE), nb)
      >= ceil(num * num / (delta * delta))
  END AS powered
FROM fin
""")
def q_prop_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion power planning on the observed purchase-vs-view
    'value > 60' success rates: required n per arm at 5%/80% from
    exact count ratios and literal z quantiles."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        proportions_power,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    side = F.when(F.col("event_type") == "purchase", "a").otherwise("b")
    return proportions_power(ev, side, (F.col("value") > 60.0).cast("int"))


@register("risk_ratio", oracle="""
-- Same user-day cohort, exact cells, log-scale Wald CI, NNT.
WITH ud AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
    max(value) AS mx, count(*) AS c
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
), flags AS (
  SELECT CASE WHEN mx > 70.0 THEN 1 ELSE 0 END AS e,
    CASE WHEN c >= 3 THEN 1 ELSE 0 END AS y
  FROM ud
), agg AS (
  SELECT count(*) FILTER (e = 1 AND y = 1) AS n11,
    count(*) FILTER (e = 1 AND y = 0) AS n10,
    count(*) FILTER (e = 0 AND y = 1) AS n01,
    count(*) FILTER (e = 0 AND y = 0) AS n00
  FROM flags
), st AS (
  SELECT n11, n10, n01, n00,
    (n11 > 0 AND n01 > 0 AND n11 + n10 > 0 AND n01 + n00 > 0) AS ok,
    (CAST(n11 AS DOUBLE) / (CAST(n11 AS DOUBLE) + n10))
      / (CAST(n01 AS DOUBLE) / (CAST(n01 AS DOUBLE) + n00)) AS rr,
    (CAST(n11 AS DOUBLE) / (CAST(n11 AS DOUBLE) + n10))
      - (CAST(n01 AS DOUBLE) / (CAST(n01 AS DOUBLE) + n00)) AS rd,
    sqrt(1.0 / n11 - 1.0 / (CAST(n11 AS DOUBLE) + n10)
      + 1.0 / n01 - 1.0 / (CAST(n01 AS DOUBLE) + n00)) AS se
  FROM agg
)
SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
  round(CASE WHEN ok THEN rr END, 6) AS rr,
  round(CASE WHEN ok THEN exp(ln(rr) - 1.96 * se) END, 6) AS ci_lo,
  round(CASE WHEN ok THEN exp(ln(rr) + 1.96 * se) END, 6) AS ci_hi,
  round(CASE WHEN ok AND abs(rd) > 0 THEN 1.0 / abs(rd) END, 6) AS nnt
FROM st
""")
def q_risk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative risk with CI and NNT over the user-day cohort (the
    odds_ratio design: exposed = day hit a value above 70, outcome =
    >= 3 events that day) — RR and OR on the same table let a reader
    see the rare-outcome approximation gap directly."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        risk_ratio,
    )

    ev = _ev(spark, sf_dir).filter(F.col("user_id").isNotNull())
    ud = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.max("value").alias("_mx"), F.count("*").alias("_c")
    )
    flags = ud.select(
        (F.col("_mx") > 70.0).cast("int").alias("e"),
        (F.col("_c") >= 3).cast("int").alias("y"),
    )
    return risk_ratio(flags, "e", "y")


@register("sprt", oracle="""
-- Same daily cumulative counts, same ln constants (identical libm).
WITH per AS (
  SELECT date_part('day', ts) AS t, count(*) AS c,
    sum(CASE WHEN CAST(value AS DOUBLE) > 40.0 THEN 1 ELSE 0 END) AS k
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
    AND user_id % 2 = 1
  GROUP BY 1
), cum AS (
  SELECT t,
    sum(c) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
    sum(k) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb
  FROM per
), fin AS (
  SELECT t, n, sb,
    CAST(sb AS DOUBLE) * ln(0.55 / 0.45)
      + CAST(n - sb AS DOUBLE) * ln(0.45 / 0.55) AS llr
  FROM cum
)
SELECT t AS step, CAST(n AS BIGINT) AS n_b, CAST(sb AS BIGINT) AS s_b,
  round(llr, 6) AS llr,
  CASE WHEN llr >= ln(0.8 / 0.05) THEN 'reject_h0'
       WHEN llr <= ln(0.2 / 0.95) THEN 'accept_h0'
       ELSE 'continue' END AS decision
FROM fin
""")
def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT monitor over the 30-day odd-user arm: daily
    cumulative successes (value > 40, true rate ~0.6) against
    H0 p=0.45 / H1 p=0.55 — the LLR walk must cross the reject-H0
    boundary; one bounded prefix window over day checkpoints, ln
    constants computed once in Python (identical libm on both
    engines)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        sprt_binomial,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    side = F.when(F.col("user_id") % 2 == 1, "b").otherwise("a")
    return sprt_binomial(
        ev.select(
            F.dayofmonth("ts").alias("day"),
            side.alias("s"),
            (F.col("value") > 40.0).cast("int").alias("y"),
        ),
        "day",
        F.col("s"),
        F.col("y"),
        p0=0.45,
        p1=0.55,
    )


@register("mcc", oracle="""
-- Same grid scorer, 0.5 threshold, exact cells, IEEE closed form.
WITH src AS (
  SELECT floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
      / 1048576.0 AS s,
    CASE WHEN CAST(CAST(('0x' || substr(md5('cal:' ||
        CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
      / 4294967296.0
      < floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
        / 1048576.0
      THEN 1 ELSE 0 END AS y
  FROM events
), agg AS (
  SELECT count(*) FILTER (s >= 0.5 AND y = 1) AS tp,
    count(*) FILTER (s >= 0.5 AND y = 0) AS fp,
    count(*) FILTER (s < 0.5 AND y = 0) AS tn,
    count(*) FILTER (s < 0.5 AND y = 1) AS fn
  FROM src
), fin AS (
  SELECT tp, fp, tn, fn,
    sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
      * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)) AS den
  FROM agg
)
SELECT CAST(tp + fp + tn + fn AS BIGINT) AS n,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
  round(CASE WHEN den > 0 THEN
    (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) / den END, 6)
    AS mcc
FROM fin
""")
def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation of the planted calibrated scorer (the
    ece_bins/brier design) thresholded at 0.5 against its md5-uniform
    outcome: exact integer confusion cells, one IEEE closed form."""
    from from_superset_to_clickhouse_spark.operators.mleval import mcc

    ev = _ev(spark, sf_dir)
    s = (
        F.floor(
            (F.col("event_id") % 997).cast("double")
            * F.lit(1048576.0)
            / F.lit(1000.0)
        )
        / F.lit(1048576.0)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("cal"), F.col("event_id"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    src = ev.select(s.alias("score"), (u < s).cast("int").alias("y"))
    return mcc(src, "score", "y", threshold=0.5)


# ---------------------------------------------------------------------------
# Decontamination, ordinal association, distribution tests, finance
# indicators, MT metrics and time-series features.
# ---------------------------------------------------------------------------


@register("exact_substr", oracle=r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), wins AS (
  SELECT doc_id,
    unnest(range(1, CAST(len(t) AS INTEGER) - 3)) AS i,
    unnest(list_transform(range(1, CAST(len(t) AS INTEGER) - 3),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           || ' ' || t[i+4])) AS gram
  FROM toks WHERE len(t) >= 5
), marked AS (
  SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS cnt,
    row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
  FROM wins
), covered AS (
  SELECT DISTINCT m.doc_id, m.i - 1 + s.s AS pos
  FROM marked m CROSS JOIN (SELECT unnest(range(0, 5)) AS s) s
  WHERE m.cnt >= 2 AND m.rn > 1
), tok AS (
  SELECT doc_id,
    unnest(range(0, CAST(len(t) AS INTEGER))) AS pos,
    unnest(t) AS token
  FROM toks
), kept AS (
  SELECT tok.doc_id, tok.pos, tok.token
  FROM tok ANTI JOIN covered USING (doc_id, pos)
), rebuilt AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
    count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id, coalesce(rebuilt.clean_text, '') AS clean_text,
  CAST(len(toks.t) - coalesce(rebuilt.n_kept, 0) AS INTEGER) AS n_removed
FROM toks LEFT JOIN rebuilt USING (doc_id)
""")
def q_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal with multiplicity (Lee et al. semantics at
    5-gram window granularity): every token covered by a NON-first
    occurrence of a corpus-duplicated 5-gram is cut — intra-document
    repeats count, and exactly one copy (the (doc_id, pos)-minimal
    occurrence) of each duplicated span survives. The oracle replays
    window construction, the count/rank head, n-wide coverage, anti
    join and ordered rebuild in ANSI SQL."""
    return txt.remove_repeated_substrings(_docs(spark, sf_dir), n=5)


@register("token_decontam", oracle=r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS t
  FROM documents
), split AS (
  SELECT doc_id,
    ((doc_id % 1000003) * 514229 + 285311) % 1000003 % 10000 < 8000
      AS is_train
  FROM documents
), wins AS (
  SELECT doc_id,
    unnest(range(1, CAST(len(t) AS INTEGER) - 3)) AS i,
    unnest(list_transform(range(1, CAST(len(t) AS INTEGER) - 3),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           || ' ' || t[i+4])) AS gram
  FROM toks WHERE len(t) >= 5
), ev_grams AS (
  SELECT DISTINCT w.gram
  FROM wins w JOIN split s USING (doc_id) WHERE NOT s.is_train
), cov AS (
  SELECT doc_id, count(*) AS nc FROM (
    SELECT DISTINCT w.doc_id, w.i - 1 + sp.s AS pos
    FROM wins w
    JOIN split s USING (doc_id)
    JOIN ev_grams USING (gram)
    CROSS JOIN (SELECT unnest(range(0, 5)) AS s) sp
    WHERE s.is_train
  ) GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
  CAST(coalesce(c.nc, 0) AS BIGINT) AS n_contaminated,
  round(CASE WHEN len(t.t) > 0
    THEN coalesce(c.nc, 0) / CAST(len(t.t) AS DOUBLE) END, 6)
    AS contaminated_frac
FROM toks t
JOIN split s USING (doc_id)
LEFT JOIN cov c USING (doc_id)
WHERE s.is_train
""")
def q_token_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level decontamination: per TRAIN doc (hash split, 80%),
    the fraction of tokens covered by a 5-gram window shared with the
    held-out 20% — the broadcast probe of the eval gram set against
    the training windows scan, upgraded from the doc-level
    ``contamination`` flag to a per-token fraction."""
    docs = _docs(spark, sf_dir)
    is_train = smp.hash_basis_points(F.col("doc_id")) < 8000
    return txt.token_decontamination(
        docs.filter(is_train), docs.filter(~is_train), n=5
    )


# Acklam inverse-normal-CDF replay (mirrors stats.probit_approx): a SQL
# CASE over the same three regions with the same Horner chains. ``p``
# must be a bare column/expression string valid in the caller's scope.
def _probit_sql(p: str) -> str:
    tail = (
        "((((((-7.784894002430293e-03) * {q} + (-3.223964580411365e-01))"
        " * {q} + (-2.400758277161838e+00)) * {q} +"
        " (-2.549732539343734e+00)) * {q} + 4.374664141464968e+00) * {q}"
        " + 2.938163982698783e+00) / ((((7.784695709041462e-03 * {q} +"
        " 3.224671290700398e-01) * {q} + 2.445134137142996e+00) * {q} +"
        " 3.754408661907416e+00) * {q} + 1.0)"
    )
    lo = tail.format(q=f"sqrt(-2.0 * ln({p}))")
    hi = tail.format(q=f"sqrt(-2.0 * ln(1.0 - ({p})))")
    # the central denominator Horner chain must match stats._ack_central:
    # ((((b0*r+b1)*r+b2)*r+b3)*r+b4)*r + 1
    central = (
        "(((((((-3.969683028665376e+01) * {r} + 2.209460984245205e+02)"
        " * {r} + (-2.759285104469687e+02)) * {r} +"
        " 1.383577518672690e+02) * {r} + (-3.066479806614716e+01)) * {r}"
        " + 2.506628277459239e+00) * {q}) / ((((((-5.447609879822406e+01)"
        " * {r} + 1.615858368580409e+02) * {r} +"
        " (-1.556989798598866e+02)) * {r} + 6.680131188771972e+01) * {r}"
        " + (-1.328068155288572e+01)) * {r} + 1.0)"
    ).format(r=f"(({p}) - 0.5) * (({p}) - 0.5)", q=f"(({p}) - 0.5)")
    return (
        f"CASE WHEN ({p}) > 0 AND ({p}) < 0.02425 THEN ({lo}) "
        f"WHEN ({p}) >= 0.02425 AND ({p}) <= 0.97575 THEN ({central}) "
        f"WHEN ({p}) > 0.97575 AND ({p}) < 1 THEN (-({hi})) END"
    )


_EV_TYPES = ("click", "view", "purchase", "signup", "error")


@register("multiclass_prf", oracle="""
-- Same rotation plant, same exact cells, same IEEE ratios.
WITH src AS (
  SELECT event_type AS t,
    CASE WHEN event_id % 10 < 3 THEN
      CASE event_type WHEN 'click' THEN 'view' WHEN 'view' THEN 'purchase'
        WHEN 'purchase' THEN 'signup' WHEN 'signup' THEN 'error'
        WHEN 'error' THEN 'click' END
    ELSE event_type END AS p
  FROM events WHERE event_type IS NOT NULL
), bt AS (
  SELECT t AS label, count(*) AS n_true,
    count(*) FILTER (t = p) AS tp
  FROM src GROUP BY 1
), bp AS (
  SELECT p AS label, count(*) AS n_pred FROM src GROUP BY 1
), j AS (
  SELECT coalesce(bt.label, bp.label) AS label,
    CAST(coalesce(n_true, 0) AS BIGINT) AS n_true,
    CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
    CAST(coalesce(tp, 0) AS BIGINT) AS tp
  FROM bt FULL OUTER JOIN bp ON bt.label = bp.label
), r AS (
  SELECT label, n_true, n_pred, tp,
    CASE WHEN n_pred > 0 THEN tp / CAST(n_pred AS DOUBLE) END AS prec,
    CASE WHEN n_true > 0 THEN tp / CAST(n_true AS DOUBLE) END AS rec
  FROM j
)
SELECT label, n_true, n_pred, tp,
  round(prec, 6) AS precision,
  round(rec, 6) AS recall,
  round(CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
    THEN CASE WHEN prec + rec > 0
      THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END END, 6) AS f1
FROM r ORDER BY label
""")
def q_multiclass_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 on a planted 5-class prediction
    log: pred = true rotated one step for event_id%10<3, identity
    otherwise — exact integer cells, IEEE ratios."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        multiclass_prf,
    )

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    rot = {t: _EV_TYPES[(i + 1) % 5] for i, t in enumerate(_EV_TYPES)}
    pred = F.when(
        F.pmod(F.col("event_id"), 10) < 3,
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in rot.items() for x in kv]
            ),
            F.col("event_type"),
        ),
    ).otherwise(F.col("event_type"))
    src = ev.select(
        F.col("event_type").alias("y_true"), pred.alias("y_pred")
    )
    return multiclass_prf(src, "y_true", "y_pred").orderBy("label")


_MCC_SCORER_SQL = """
  SELECT floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
      / 1048576.0 AS s,
    CASE WHEN CAST(CAST(('0x' || substr(md5('cal:' ||
        CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
      / 4294967296.0
      < floor(CAST(event_id % 997 AS DOUBLE) * 1048576.0 / 1000.0)
        / 1048576.0
      THEN 1 ELSE 0 END AS y
  FROM events
"""


@register("hosmer_lemeshow", oracle="""
-- Same grid scorer, same distinct-score block deciles, same fxp chi2,
-- same Wilson-Hilferty tail on g_used - 2.
WITH src AS (""" + _MCC_SCORER_SQL + """
), per AS (
  SELECT s, count(*) AS c, sum(y) AS o FROM src GROUP BY 1
), tot AS (SELECT sum(c) AS n FROM per),
binned AS (
  SELECT s, c, o,
    CAST(floor(10 * coalesce(sum(c) OVER (ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      / (SELECT n FROM tot)) AS INTEGER) AS g
  FROM per
), cells AS (
  SELECT g, sum(c) AS ng, sum(o) AS og, sum(s * c) AS eg
  FROM binned GROUP BY 1
), cc AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, count(*) AS g_used,
    sum(CAST(floor(
      (CAST(og AS DOUBLE) - eg) * (CAST(og AS DOUBLE) - eg)
      / (CASE WHEN eg > 0 AND ng - eg > 0
          THEN eg * (ng - eg) / ng END) * 1048576.0) AS BIGINT))
      / 1048576.0 AS chi2v,
    CAST(count(*) - 2 AS DOUBLE) AS dofv
  FROM cells
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT n, CAST(g_used AS INTEGER) AS g_used,
  round(chi2v, 6) AS chi2, CAST(dofv AS INTEGER) AS dof,
  round(CASE WHEN dofv > 0 THEN pchi END, 6) AS p_value
FROM pv
""")
def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer–Lemeshow calibration deciles on the mcc entry's planted
    scorer (grid score, md5-threshold outcome): distinct-score block
    deciles, fxp chi2, Wilson–Hilferty p on g−2 dof."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        hosmer_lemeshow,
    )

    ev = _ev(spark, sf_dir)
    s = F.floor(
        F.pmod(F.col("event_id"), 997).cast("double") * 1048576.0 / 1000.0
    ) / F.lit(1048576.0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cal:"), F.col("event_id"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    src = ev.select(s.alias("score"), (u < s).cast("int").alias("y"))
    return hosmer_lemeshow(src, "score", "y", g=10)


@register("weighted_kappa", oracle="""
-- Same clamped plant, same k from the data span, same O/E sums.
WITH src AS (
  SELECT event_id % 5 AS a,
    CASE WHEN event_id % 7 = 0 THEN least(event_id % 5 + 1, 4)
         WHEN event_id % 13 = 0 THEN greatest(event_id % 5 - 2, 0)
         ELSE event_id % 5 END AS b
  FROM events
), span AS (
  SELECT least(min(a), min(b)) AS lo, greatest(max(a), max(b)) AS hi,
    count(*) AS n
  FROM src
), obs AS (
  SELECT a, b, count(*) AS o FROM src GROUP BY 1, 2
), swo AS (
  SELECT sum(CAST(a - b AS DOUBLE) * (a - b)
    / (CASE WHEN hi - lo > 0
        THEN CAST(hi - lo AS DOUBLE) * (hi - lo) ELSE 1.0 END) * o) AS v
  FROM obs, span
), ra AS (SELECT a, count(*) AS ca FROM src GROUP BY 1),
rb AS (SELECT b, count(*) AS cb FROM src GROUP BY 1),
swe AS (
  SELECT sum(CAST(a - b AS DOUBLE) * (a - b)
    / (CASE WHEN hi - lo > 0
        THEN CAST(hi - lo AS DOUBLE) * (hi - lo) ELSE 1.0 END)
    * CAST(ca AS DOUBLE) * cb) AS v
  FROM ra, rb, span
)
SELECT CAST(n AS BIGINT) AS n,
  CAST(hi - lo + 1 AS INTEGER) AS k,
  round(CASE WHEN swe.v > 0
    THEN 1.0 - swo.v / (swe.v / CAST(n AS DOUBLE)) END, 6) AS kappa_w
FROM span, swo, swe
""")
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted kappa between two planted ordinal raters on
    a 0-4 scale: rater b deviates +1 (clamped) on every 7th row and
    -2 on every 13th — near-misses discount quadratically."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        weighted_kappa,
    )

    ev = _ev(spark, sf_dir)
    a = F.pmod(F.col("event_id"), 5)
    b = (
        F.when(F.pmod(F.col("event_id"), 7) == 0, F.least(a + 1, F.lit(4)))
        .when(F.pmod(F.col("event_id"), 13) == 0, F.greatest(a - 2, F.lit(0)))
        .otherwise(a)
    )
    src = ev.select(a.alias("rater_a"), b.alias("rater_b"))
    return weighted_kappa(src, "rater_a", "rater_b")


@register("kripp_alpha", oracle="""
-- Same unit plant, same coincidence-matrix identity, exact cells.
WITH src AS (
  SELECT event_id % 500 AS u,
    CASE WHEN event_id % 11 = 0 THEN 'error' ELSE event_type END AS c
  FROM events WHERE event_type IS NOT NULL
), per_uc AS (
  SELECT u, c, count(*) AS o FROM src GROUP BY 1, 2
), per_u AS (
  SELECT u, sum(o) AS m FROM per_uc GROUP BY 1
), pairable AS (
  SELECT per_uc.u, per_uc.c, per_uc.o, per_u.m
  FROM per_uc JOIN per_u USING (u) WHERE m >= 2
), don AS (
  SELECT sum(CAST(o AS DOUBLE) * (m - o) / CAST(m - 1 AS DOUBLE)) AS v,
    count(DISTINCT u) AS nu
  FROM pairable
), marg AS (
  SELECT c, sum(o) AS nc FROM pairable GROUP BY 1
), tot AS (SELECT sum(nc) AS n FROM marg),
de AS (
  SELECT sum(CAST(nc AS DOUBLE) * (n - nc)) AS v, min(n) AS n
  FROM marg, tot
)
SELECT CAST(de.n AS BIGINT) AS n_ratings,
  CAST(don.nu AS BIGINT) AS n_units,
  round(don.v / CAST(de.n AS DOUBLE), 6) AS d_o,
  round(de.v / (CAST(de.n AS DOUBLE) * (de.n - 1)), 6) AS d_e,
  round(CASE WHEN de.v > 0 THEN
    1.0 - (don.v / CAST(de.n AS DOUBLE))
      / (de.v / (CAST(de.n AS DOUBLE) * (de.n - 1))) END, 6) AS alpha
FROM don, de
""")
def q_kripp_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) over a planted annotation log:
    units = event_id%500 (~20 ratings each), label = event_type with
    every 11th rating flipped to 'error' — coincidence-matrix form,
    exact integer cells."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        krippendorff_alpha,
    )

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    lab = F.when(
        F.pmod(F.col("event_id"), 11) == 0, F.lit("error")
    ).otherwise(F.col("event_type"))
    src = ev.select(
        F.pmod(F.col("event_id"), 500).alias("unit"),
        F.col("event_id").alias("rater"),
        lab.alias("label"),
    )
    return krippendorff_alpha(src, "unit", "rater", "label")


@register("dprime", oracle=(
    ("""
-- Same planted scorer, same 1/(2N) correction, same Acklam probit.
WITH src AS (""" + _MCC_SCORER_SQL + """
), agg AS (
  SELECT count(*) FILTER (y = 1) AS np,
    count(*) FILTER (y = 1 AND s >= 0.5) AS tp,
    count(*) FILTER (y = 0) AS nn,
    count(*) FILTER (y = 0 AND s >= 0.5) AS fp
  FROM src
), rates AS (
  SELECT np, nn,
    CASE WHEN np > 0 THEN
      CASE WHEN tp = 0 THEN 0.5 / np
           WHEN tp = np THEN 1.0 - 0.5 / np
           ELSE tp / CAST(np AS DOUBLE) END END AS hr,
    CASE WHEN nn > 0 THEN
      CASE WHEN fp = 0 THEN 0.5 / nn
           WHEN fp = nn THEN 1.0 - 0.5 / nn
           ELSE fp / CAST(nn AS DOUBLE) END END AS fa
  FROM agg
), z AS (
  SELECT np, nn, hr, fa,
    (""" + "__PROBIT_HR__" + """) AS zh,
    (""" + "__PROBIT_FA__" + """) AS zf
  FROM rates
)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
  round(hr, 6) AS hit_rate, round(fa, 6) AS fa_rate,
  round(zh - zf, 6) AS d_prime,
  round(-(zh + zf) / 2.0, 6) AS criterion
FROM z
""").replace("__PROBIT_HR__", _probit_sql("hr")).replace(
        "__PROBIT_FA__", _probit_sql("fa")
    )
))
def q_dprime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-detection d' and criterion for the planted scorer at the
    0.5 operating point: Acklam probit of hit/false-alarm rates with
    the 1/(2N) extreme-rate correction."""
    from from_superset_to_clickhouse_spark.operators.mleval import dprime

    ev = _ev(spark, sf_dir)
    s = F.floor(
        F.pmod(F.col("event_id"), 997).cast("double") * 1048576.0 / 1000.0
    ) / F.lit(1048576.0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cal:"), F.col("event_id"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    src = ev.select(s.alias("score"), (u < s).cast("int").alias("y"))
    return dprime(src, "score", "y", threshold=0.5)


@register("cohens_h", oracle="""
-- Same two-arm plant, same arcsine transform, IEEE-identical.
WITH src AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
    CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), agg AS (
  SELECT count(*) FILTER (g = 'a') AS na,
    sum(y) FILTER (g = 'a') AS sa,
    count(*) FILTER (g = 'b') AS nb,
    sum(y) FILTER (g = 'b') AS sb
  FROM src
), r AS (
  SELECT na, nb, sa / CAST(na AS DOUBLE) AS pa,
    sb / CAST(nb AS DOUBLE) AS pb
  FROM agg
)
SELECT CAST(na AS BIGINT) AS n_a, round(pa, 6) AS p_a,
  CAST(nb AS BIGINT) AS n_b, round(pb, 6) AS p_b,
  round(CASE WHEN na > 0 AND nb > 0 THEN
    2.0 * asin(sqrt(pa)) - 2.0 * asin(sqrt(pb)) END, 6) AS h
FROM r
""")
def q_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h between the purchase and view arms' high-value rates
    (value > 50): the arcsine-stabilized two-proportion effect size,
    one conditional aggregate."""
    from from_superset_to_clickhouse_spark.operators.stats import cohens_h

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    side = F.when(F.col("event_type") == "purchase", "a").otherwise("b")
    return cohens_h(
        ev.select((F.col("value") > 50).cast("int").alias("hi"), side.alias("_g")),
        "hi",
        "_g",
    )


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared bounded series for the pair-based ordinal suite: daily
    (mean value, event count) over all events — one 30-point series,
    435 ordered pairs."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.avg("value").alias("x"), F.count("*").cast("double").alias("y")
    )


# Pair on the same deterministic row_number tiebreak as ordinal_assoc
# (ADVICE r12: raw _o < _o dropped pairs sharing an order value).
_ORDINAL_PAIRS_SQL = """
  SELECT a.xa, a.ya, b.xb AS xb, b.yb AS yb
  FROM (SELECT row_number() OVER (ORDER BY _o, _x, _y) AS i,
          _x AS xa, _y AS ya FROM daily) a,
       (SELECT row_number() OVER (ORDER BY _o, _x, _y) AS i,
          _x AS xb, _y AS yb FROM daily) b
  WHERE a.i < b.i
"""


_DAILY_XY_SQL = """
  SELECT date_trunc('day', ts) AS _o,
    floor(avg(value) * 1048576.0) / 1048576.0 AS _x,
    floor(CAST(count(*) AS DOUBLE) * 1048576.0) / 1048576.0 AS _y
  FROM events GROUP BY 1
"""


@register("somers_d", oracle="""
-- Same grid series, same ordered pairs, same tie counts.
WITH daily AS (""" + _DAILY_XY_SQL + """
), pairs AS (""" + _ORDINAL_PAIRS_SQL + """
), pa AS (
  SELECT count(*) AS n0,
    CAST(sum(sign(xa - xb) * sign(ya - yb)) AS BIGINT) AS s,
    count(*) FILTER (xa = xb) AS tx,
    count(*) FILTER (ya = yb) AS ty
  FROM pairs
), cnt AS (SELECT count(*) AS n FROM daily)
SELECT CAST(n AS BIGINT) AS n, CAST(n0 AS BIGINT) AS n_pairs, s,
  CAST(tx AS BIGINT) AS tied_x, CAST(ty AS BIGINT) AS tied_y,
  round(CASE WHEN n0 > tx THEN CAST(s AS DOUBLE) / (n0 - tx) END, 6)
    AS d_yx,
  round(CASE WHEN n0 > ty THEN CAST(s AS DOUBLE) / (n0 - ty) END, 6)
    AS d_xy
FROM pa, cnt
""")
def q_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D (both asymmetries) on the daily mean-value vs count
    series: S over ordered pairs with tie-set-exact grid inputs,
    D_yx = S/(pairs − tied_x)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        ordinal_assoc,
    )

    return ordinal_assoc(_daily_xy(spark, sf_dir), "d", "x", "y").select(
        "n", "n_pairs", "s", "tied_x", "tied_y", "d_yx", "d_xy"
    )


@register("gk_gamma", oracle="""
-- Same pairs; gamma ignores every tied pair.
WITH daily AS (""" + _DAILY_XY_SQL + """
), pairs AS (""" + _ORDINAL_PAIRS_SQL + """
), pa AS (
  SELECT count(*) AS n0,
    CAST(sum(sign(xa - xb) * sign(ya - yb)) AS BIGINT) AS s,
    count(*) FILTER (xa <> xb AND ya <> yb) AS cd
  FROM pairs
), cnt AS (SELECT count(*) AS n FROM daily)
SELECT CAST(n AS BIGINT) AS n, CAST(n0 AS BIGINT) AS n_pairs, s,
  CAST(cd AS BIGINT) AS pairs_xy,
  round(CASE WHEN cd > 0 THEN CAST(s AS DOUBLE) / cd END, 6) AS gamma
FROM pa, cnt
""")
def q_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal gamma on the same bounded daily series:
    S/(C+D), ties ignored entirely."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        ordinal_assoc,
    )

    return ordinal_assoc(_daily_xy(spark, sf_dir), "d", "x", "y").select(
        "n", "n_pairs", "s", "pairs_xy", "gamma"
    )


@register("mantel_haenszel", oracle="""
-- Same month strata, same exact cells, same fxp per-stratum terms,
-- same Wilson-Hilferty tail at 1 dof.
WITH src AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS st,
    CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
    CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), cells AS (
  SELECT st,
    count(*) FILTER (g = 'a' AND y = 1) AS a,
    count(*) FILTER (g = 'a' AND y = 0) AS b,
    count(*) FILTER (g = 'b' AND y = 1) AS c,
    count(*) FILTER (g = 'b' AND y = 0) AS d
  FROM src GROUP BY 1
), terms AS (
  SELECT a, b, c, d,
    CAST(a + b + c + d AS DOUBLE) AS ni,
    CAST(a + b AS DOUBLE) AS r1, CAST(c + d AS DOUBLE) AS r2,
    CAST(a + c AS DOUBLE) AS c1, CAST(b + d AS DOUBLE) AS c2
  FROM cells
), agg0 AS (
  SELECT CAST(count(*) AS INTEGER) AS k,
    CAST(sum(CAST(ni AS BIGINT)) AS BIGINT) AS n,
    sum(CAST(floor(CAST(a AS DOUBLE) * d / ni * 1048576.0) AS BIGINT))
      / 1048576.0 AS sad,
    sum(CAST(floor(CAST(b AS DOUBLE) * c / ni * 1048576.0) AS BIGINT))
      / 1048576.0 AS sbc,
    CAST(sum(a) AS DOUBLE) AS sa,
    sum(CAST(floor(r1 * c1 / ni * 1048576.0) AS BIGINT))
      / 1048576.0 AS se,
    sum(CAST(floor(CASE WHEN ni > 1.0 THEN
      r1 * r2 * c1 * c2 / (ni * ni * (ni - 1.0)) END
      * 1048576.0) AS BIGINT)) / 1048576.0 AS sv
  FROM terms
), cc AS (
  SELECT k, n, sad, sbc,
    CASE WHEN sv > 0 THEN (sa - se) * (sa - se) / sv END AS chi2v,
    1.0 AS dofv
  FROM agg0
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT k, n,
  round(CASE WHEN sbc > 0 THEN sad / sbc END, 6) AS or_mh,
  round(chi2v, 6) AS chi2, round(pchi, 6) AS p_value
FROM pv
""")
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel common odds ratio + CMH chi2 for the purchase-
    vs-view high-value outcome, stratified by calendar month — the
    Simpson's-paradox guard over the collapsed ``odds_ratio`` entry."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mantel_haenszel,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    src = ev.select(
        F.date_trunc("month", F.col("ts")).cast("date").alias("m"),
        F.when(F.col("event_type") == "purchase", "a").otherwise("b").alias("_g"),
        (F.col("value") > 50).cast("int").alias("hi"),
    )
    return mantel_haenszel(src, "m", "_g", "hi")


@register("cochran_armitage", oracle="""
-- Same planted ramp, same bounded dose-group sums, same normal tail.
WITH src AS (
  SELECT floor(CAST(event_id % 4 AS DOUBLE) * 1048576.0) / 1048576.0 AS s,
    CASE WHEN (event_id * 7) % 100 < 20 + 10 * (event_id % 4)
      THEN 1 ELSE 0 END AS y
  FROM events
), g AS (
  SELECT s, count(*) AS ni, sum(y) AS ri FROM src GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS INTEGER) AS k,
    sum(ni) AS n, sum(ri) AS r,
    sum(CAST(floor(s * ri * 1048576.0) AS BIGINT)) / 1048576.0 AS sr,
    sum(CAST(floor(s * ni * 1048576.0) AS BIGINT)) / 1048576.0 AS sn,
    sum(CAST(floor(s * s * ni * 1048576.0) AS BIGINT)) / 1048576.0 AS ssn
  FROM g
), st AS (
  SELECT k, n, r,
    sr - sn * CAST(r AS DOUBLE) / n AS t,
    (CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
      * (ssn - sn * sn / CAST(n AS DOUBLE)) AS var
  FROM agg
), z AS (
  SELECT k, n, r, t,
    CASE WHEN var > 0 THEN t / sqrt(var) END AS zv
  FROM st
), et AS (SELECT *, abs(zv) / sqrt(2.0) AS xx,
  1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS tt FROM z),
pv AS (SELECT *,
  (1.0 - (0.254829592 * tt - 0.284496736 * tt * tt
    + 1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt * tt
    + 1.061405429 * tt * tt * tt * tt * tt) * exp(-(xx * xx))) AS erfv
  FROM et)
SELECT k, CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS n_pos,
  round(t, 6) AS t, round(zv, 6) AS z,
  round(CASE WHEN zv IS NOT NULL
    THEN 2.0 * ((1.0 - erfv) / 2.0) END, 6) AS p_value
FROM pv
""")
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend across four planted ramp stages (dose =
    event_id%4) whose success rate rises 20%→50% by construction —
    the monotone-rollout detector."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cochran_armitage,
    )

    ev = _ev(spark, sf_dir)
    dose = F.pmod(F.col("event_id"), 4)
    flag = (
        F.pmod(F.col("event_id") * 7, 100) < (F.lit(20) + F.lit(10) * dose)
    ).cast("int")
    return cochran_armitage(
        ev.select(dose.cast("double").alias("dose"), flag.alias("y")),
        "dose",
        "y",
    )


@register("partial_corr", oracle="""
-- Same grid means, same floor-re-quantized moment sums, same formula.
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS x0,
    CAST(value AS DOUBLE) / 2.0
      + CAST(EXTRACT(hour FROM ts) AS DOUBLE)
      + CAST(event_id % 17 AS DOUBLE) / 10.0 AS x1,
    CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS x2
  FROM events WHERE value IS NOT NULL
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x0) * 1048576.0) / 1048576.0 AS m0,
    floor(avg(x1) * 1048576.0) / 1048576.0 AS m1v,
    floor(avg(x2) * 1048576.0) / 1048576.0 AS m2
  FROM src
), mom AS (
  SELECT n,
    sum(CAST(floor((x0-m0)*(x0-m0)*1048576.0) AS BIGINT))/1048576.0 AS s00,
    sum(CAST(floor((x0-m0)*(x1-m1v)*1048576.0) AS BIGINT))/1048576.0 AS s01,
    sum(CAST(floor((x0-m0)*(x2-m2)*1048576.0) AS BIGINT))/1048576.0 AS s02,
    sum(CAST(floor((x1-m1v)*(x1-m1v)*1048576.0) AS BIGINT))/1048576.0 AS s11,
    sum(CAST(floor((x1-m1v)*(x2-m2)*1048576.0) AS BIGINT))/1048576.0 AS s12,
    sum(CAST(floor((x2-m2)*(x2-m2)*1048576.0) AS BIGINT))/1048576.0 AS s22
  FROM src, m1 GROUP BY n
), r AS (
  SELECT n,
    CASE WHEN sqrt(s00 * s11) > 0 THEN s01 / sqrt(s00 * s11) END AS rxy,
    CASE WHEN sqrt(s00 * s22) > 0 THEN s02 / sqrt(s00 * s22) END AS rxz,
    CASE WHEN sqrt(s11 * s22) > 0 THEN s12 / sqrt(s11 * s22) END AS ryz
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n,
  round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz, round(ryz, 6) AS r_yz,
  round(CASE WHEN sqrt((1.0 - rxz*rxz) * (1.0 - ryz*ryz)) > 0
    THEN (rxy - rxz*ryz) / sqrt((1.0 - rxz*rxz) * (1.0 - ryz*ryz)) END,
    6) AS r_partial
FROM r
""")
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of (value, composite) given hour-of-day:
    the composite is value/2 + hour + a planted deterministic
    perturbation, so controlling for hour strips the circadian
    component — one shared grid-moment pass."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        partial_corr,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    hour = F.hour("ts").cast("double")
    comp = (
        F.col("value") / 2.0
        + hour
        + F.pmod(F.col("event_id"), 17).cast("double") / 10.0
    )
    return partial_corr(
        ev.select(
            F.col("value").alias("x"), comp.alias("y"), hour.alias("z")
        ),
        "x",
        "y",
        "z",
    )


# Φ(z) replay: the A&S erf polynomial with the EXACT operation order of
# stats.normal_sf / erf_approx, branch on sign, clamped to
# [1e-12, 1 - 1e-12]. Expects columns z/xx/tt in scope via the two
# helper CTE stages the caller writes (xx = abs(z)/sqrt(2), tt = A&S t).
_PHI_CLAMPED_SQL = """
CASE WHEN z IS NOT NULL THEN greatest(least(
  CASE WHEN z >= 0 THEN 1.0 - (1.0 - (1.0 - (0.254829592 * tt
      - 0.284496736 * tt * tt + 1.421413741 * tt * tt * tt
      - 1.453152027 * tt * tt * tt * tt
      + 1.061405429 * tt * tt * tt * tt * tt) * exp(-(xx * xx)))) / 2.0
  ELSE (1.0 - (1.0 - (0.254829592 * tt - 0.284496736 * tt * tt
      + 1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt * tt
      + 1.061405429 * tt * tt * tt * tt * tt) * exp(-(xx * xx)))) / 2.0
  END, 1.0 - 1e-12), 1e-12) END
"""


@register("anderson_darling", oracle="""
-- Same grid moments, same tie-block closed form, same clamped Phi,
-- same Stephens/D'Agostino tail.
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), mom AS (
  SELECT count(*) AS n, floor(avg(v) * 1048576.0) / 1048576.0 AS m
  FROM src
), ss AS (
  SELECT n, m,
    sum(CAST(floor((v - m) * (v - m) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ssv
  FROM src, mom GROUP BY 1, 2
), pv0 AS (
  SELECT v, count(*) AS t FROM src GROUP BY 1
), pw AS (
  SELECT v, t, coalesce(sum(t) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv0
), zt AS (
  SELECT t, bef, n,
    (v - m) / (CASE WHEN n > 1
      THEN sqrt(ssv / (CAST(n AS DOUBLE) - 1.0)) END) AS z
  FROM pw, ss
), zt2 AS (
  SELECT t, bef, n, z, abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
  FROM zt
), ph AS (
  SELECT t, bef, n, """ + _PHI_CLAMPED_SQL + """ AS phi
  FROM zt2
), s AS (
  SELECT n,
    sum(CAST(floor((CAST(t AS DOUBLE) * (2.0 * bef + t) * ln(phi)
      + CAST(t AS DOUBLE) * (2.0 * (CAST(n AS DOUBLE) - bef) - t)
        * ln(1.0 - phi)) * 1048576.0) AS BIGINT)) / 1048576.0 AS sv
  FROM ph GROUP BY 1
), fin AS (
  SELECT n, -CAST(n AS DOUBLE) - sv / n AS a2,
    (-CAST(n AS DOUBLE) - sv / n)
      * (1.0 + 0.75 / n + 2.25 / (CAST(n AS DOUBLE) * n)) AS astar
  FROM s
)
SELECT CAST(n AS BIGINT) AS n, round(a2, 6) AS a2,
  round(astar, 6) AS a2_star,
  round(greatest(least(
    CASE WHEN astar >= 0.6
      THEN exp(1.2937 - 5.709 * astar + 0.0186 * astar * astar)
    WHEN astar >= 0.34
      THEN exp(0.9177 - 4.279 * astar - 1.38 * astar * astar)
    WHEN astar >= 0.2
      THEN 1.0 - exp(-8.318 + 42.796 * astar - 59.938 * astar * astar)
    ELSE 1.0 - exp(-13.436 + 101.14 * astar - 223.73 * astar * astar)
    END, 1.0), 0.0), 6) AS p_value
FROM fin
""")
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson–Darling normality gate on the full event value stream:
    distinct-value tie-block closed form, shared A&S Φ, Stephens
    correction + D'Agostino case-3 p."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        anderson_darling,
    )

    return anderson_darling(_ev(spark, sf_dir), "value")


@register("fligner_killeen", oracle=("""
-- Same per-group lower medians, same pooled midranks, same Acklam
-- normal scores, same grid-floored means and fxp sums, same WH tail.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), gv AS (
  SELECT g, v, count(*) AS c FROM src GROUP BY 1, 2
), gcum AS (
  SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM gv
), ng AS (SELECT g, sum(c) AS ngv FROM gv GROUP BY 1),
med AS (
  SELECT gcum.g, min(v) AS medv
  FROM gcum JOIN ng ON gcum.g = ng.g
  WHERE cum >= CAST(ceil(ngv / 2.0) AS BIGINT)
  GROUP BY 1
), dev AS (
  SELECT gv.g,
    floor(abs(gv.v - med.medv) * 1048576.0) / 1048576.0 AS d,
    sum(c) AS c
  FROM gv JOIN med ON gv.g = med.g GROUP BY 1, 2
), per_d AS (
  SELECT d, sum(c) AS t FROM dev GROUP BY 1
), pw AS (
  SELECT d, t, coalesce(sum(t) OVER (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM per_d
), tot AS (SELECT sum(t) AS nn FROM per_d),
scores AS (
  SELECT d, ({probit}) AS a
  FROM (
    SELECT d, 0.5 + (bef + (t + 1.0) / 2.0)
      / (2.0 * (CAST(nn AS DOUBLE) + 1.0)) AS pp
    FROM pw, tot
  )
), scored AS (
  SELECT dev.g, dev.c, scores.a FROM dev JOIN scores USING (d)
), overall AS (
  SELECT sum(CAST(floor(c * a * 1048576.0) AS BIGINT)) / 1048576.0 AS sa,
    sum(c) AS n2
  FROM scored
), abar AS (
  SELECT floor(sa / n2 * 1048576.0) / 1048576.0 AS ab FROM overall
), v2 AS (
  SELECT sum(CAST(floor(c * (a - ab) * (a - ab) * 1048576.0) AS BIGINT))
      / 1048576.0 AS sv,
    sum(c) AS n3
  FROM scored, abar
), per_g AS (
  SELECT g, sum(c) AS ngv,
    sum(CAST(floor(c * a * 1048576.0) AS BIGINT)) / 1048576.0 AS sag
  FROM scored GROUP BY 1
), between AS (
  SELECT count(*) AS k, sum(ngv) AS n4,
    sum(CAST(floor(ngv * (floor(sag / ngv * 1048576.0) / 1048576.0 - ab)
      * (floor(sag / ngv * 1048576.0) / 1048576.0 - ab)
      * 1048576.0) AS BIGINT)) / 1048576.0 AS sb
  FROM per_g, abar GROUP BY ab
), cc AS (
  SELECT k, n4,
    CASE WHEN sv / (CAST(n3 AS DOUBLE) - 1.0) > 0
      THEN sb / (sv / (CAST(n3 AS DOUBLE) - 1.0)) END AS chi2v,
    CAST(k - 1 AS DOUBLE) AS dofv
  FROM between, v2
),
""" + _WH_TAIL[_WH_TAIL.index("zc"):] + """
SELECT CAST(k AS INTEGER) AS k, CAST(n4 AS BIGINT) AS n,
  round(chi2v, 6) AS chi2,
  round(CASE WHEN k > 1 THEN pchi END, 6) AS p_value
FROM pv
""").format(probit=_probit_sql("pp")))
def q_fligner_killeen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner–Killeen robust spread homogeneity across the five event
    types — the rank/normal-scores member of the levene/bartlett trio."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        fligner_killeen,
    )

    return fligner_killeen(_ev(spark, sf_dir), "value", "event_type")


@register("brunner_munzel", oracle="""
-- Same distinct-value placements, same grid-floored rank means, same
-- fxp variance sums, same normal two-sided tail.
WITH src AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), pv0 AS (
  SELECT v, count(*) FILTER (g = 'a') AS ca,
    count(*) FILTER (g = 'b') AS cb
  FROM src GROUP BY 1
), pw AS (
  SELECT v, ca, cb,
    coalesce(sum(ca + cb) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
    coalesce(sum(ca) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS befa,
    coalesce(sum(cb) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS befb
  FROM pv0
), rk AS (
  SELECT ca, cb,
    bef + (CAST(ca + cb AS DOUBLE) + 1.0) / 2.0 AS rp,
    befa + (ca + 1.0) / 2.0 AS ra,
    befb + (cb + 1.0) / 2.0 AS rb
  FROM pw
), tot AS (
  SELECT sum(ca) AS na, sum(cb) AS nb,
    sum(ca * rp) AS sra, sum(cb * rp) AS srb
  FROM rk
), means AS (
  SELECT na, nb,
    floor(sra / CAST(na AS DOUBLE) * 1048576.0) / 1048576.0 AS rba,
    floor(srb / CAST(nb AS DOUBLE) * 1048576.0) / 1048576.0 AS rbb
  FROM tot
), var AS (
  SELECT na, nb, rba, rbb,
    sum(CAST(floor(ca * (rp - ra - rba + (CAST(na AS DOUBLE) + 1.0) / 2.0)
      * (rp - ra - rba + (CAST(na AS DOUBLE) + 1.0) / 2.0)
      * 1048576.0) AS BIGINT)) / 1048576.0 AS ssa,
    sum(CAST(floor(cb * (rp - rb - rbb + (CAST(nb AS DOUBLE) + 1.0) / 2.0)
      * (rp - rb - rbb + (CAST(nb AS DOUBLE) + 1.0) / 2.0)
      * 1048576.0) AS BIGINT)) / 1048576.0 AS ssb
  FROM rk, means GROUP BY 1, 2, 3, 4
), st AS (
  SELECT na, nb, rba, rbb,
    (CASE WHEN na > 1 THEN ssa / (CAST(na AS DOUBLE) - 1.0) END)
      / (CAST(nb AS DOUBLE) * nb) AS sta,
    (CASE WHEN nb > 1 THEN ssb / (CAST(nb AS DOUBLE) - 1.0) END)
      / (CAST(na AS DOUBLE) * na) AS stb
  FROM var
), wv AS (
  SELECT na, nb, rba, rbb, sta, stb,
    CASE WHEN sta / na + stb / nb > 0
      THEN (rbb - rba) / ((CAST(na AS DOUBLE) + nb)
        * sqrt(sta / na + stb / nb)) END AS zv
  FROM st
), et AS (SELECT *, abs(zv) / sqrt(2.0) AS xx,
  1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))) AS tt FROM wv),
pvt AS (SELECT *,
  (1.0 - (0.254829592 * tt - 0.284496736 * tt * tt
    + 1.421413741 * tt * tt * tt - 1.453152027 * tt * tt * tt * tt
    + 1.061405429 * tt * tt * tt * tt * tt) * exp(-(xx * xx))) AS erfv
  FROM et)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round((rbb - (CAST(nb AS DOUBLE) + 1.0) / 2.0)
    / CAST(na AS DOUBLE), 6) AS p_hat,
  round(zv, 6) AS w_stat,
  round(CASE WHEN sta > 0 OR stb > 0 THEN
    (sta / na + stb / nb) * (sta / na + stb / nb)
    / ((sta / na) * (sta / na) / (CAST(na AS DOUBLE) - 1.0)
      + (stb / nb) * (stb / nb) / (CAST(nb AS DOUBLE) - 1.0)) END, 6)
    AS df_approx,
  round(CASE WHEN zv IS NOT NULL
    THEN 2.0 * ((1.0 - erfv) / 2.0) END, 6) AS p_value
FROM pvt
""")
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner–Munzel unequal-variance rank test between the purchase
    and view arms: placement-identity variances over the distinct-value
    table, normal reference (two-sided)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        brunner_munzel,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    side = F.when(F.col("event_type") == "purchase", "a").otherwise("b")
    return brunner_munzel(ev.select("value", side.alias("_g")), "value", "_g")


def _daily_series_r12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-type daily mean-value series (5 types × ~30 days)
    for the round-12 time-series suite."""
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return ev.groupBy(
        F.col("event_type").alias("g"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.avg("value").alias("v"))


_DAILY_G_SQL = """
  SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS d,
    avg(CAST(value AS DOUBLE)) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


@register("max_drawdown", oracle="""
WITH daily AS (""" + _DAILY_G_SQL + """
), qv AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), run AS (
  SELECT g, v, max(v) OVER (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM qv
)
SELECT g, CAST(count(*) AS BIGINT) AS n,
  round(max(peak), 6) AS peak,
  round(max(peak - v), 6) AS max_dd,
  round(max(CASE WHEN peak > 0 THEN 1.0 - v / peak END), 6)
    AS max_dd_frac
FROM run GROUP BY g
""")
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown of each event type's daily mean-value curve:
    running-max window + per-series aggregate, grid-exact."""
    return tmp.max_drawdown(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("rsi", oracle="""
WITH daily AS (""" + _DAILY_G_SQL + """
), qv AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), dd AS (
  SELECT g, d, v - lag(v) OVER (PARTITION BY g ORDER BY d) AS dv
  FROM qv
), fr AS (
  SELECT g, d,
    count(dv) OVER w AS cnt,
    sum(CASE WHEN dv > 0 THEN dv
             WHEN dv IS NOT NULL THEN 0.0 END) OVER w AS sg,
    sum(CASE WHEN dv < 0 THEN -dv
             WHEN dv IS NOT NULL THEN 0.0 END) OVER w AS sl
  FROM dd
  WINDOW w AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT g, d,
  round(CASE WHEN cnt >= 14 THEN
    CASE WHEN sl / cnt > 0
      THEN 100.0 - 100.0 / (1.0 + (sg / cnt) / (sl / cnt))
      WHEN sg / cnt > 0 THEN 100.0 ELSE 50.0 END END, 6) AS rsi
FROM fr
""")
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period SMA RSI over each type's daily series (NULL warm-up
    rows kept — the driver hashes them as NULLs)."""
    return tmp.rsi(_daily_series_r12(spark, sf_dir), "g", "d", "v", period=14)


@register("bollinger", oracle="""
WITH daily AS (""" + _DAILY_G_SQL + """
), qv AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), fr AS (
  SELECT g, d, v,
    count(v) OVER w AS cnt, sum(v) OVER w AS s1,
    sum(v * v) OVER w AS s2
  FROM qv
  WINDOW w AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), bands AS (
  SELECT g, d, v, cnt,
    s1 / CAST(cnt AS DOUBLE) AS m,
    sqrt(greatest((s2 - CAST(cnt AS DOUBLE) * (s1 / CAST(cnt AS DOUBLE))
      * (s1 / CAST(cnt AS DOUBLE))) / (CAST(cnt AS DOUBLE) - 1.0),
      0.0)) AS sd
  FROM fr
)
SELECT g, d,
  round(CASE WHEN cnt >= 20 THEN m END, 6) AS ma,
  round(CASE WHEN cnt >= 20 THEN m + 2.0 * sd END, 6) AS upper,
  round(CASE WHEN cnt >= 20 THEN m - 2.0 * sd END, 6) AS lower,
  round(CASE WHEN cnt >= 20 AND m + 2.0 * sd > m - 2.0 * sd
    THEN (v - (m - 2.0 * sd)) / ((m + 2.0 * sd) - (m - 2.0 * sd))
    END, 6) AS pct_b
FROM bands
""")
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-period Bollinger bands + %B over each type's daily series;
    exact grid frame sums, sample sd."""
    return tmp.bollinger(
        _daily_series_r12(spark, sf_dir), "g", "d", "v", period=20, width=2.0
    )


@register("var_cvar", oracle="""
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), pv0 AS (
  SELECT g, v, count(*) AS c FROM src GROUP BY 1, 2
), cum AS (
  SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM pv0
), ng AS (SELECT g, sum(c) AS n FROM pv0 GROUP BY 1),
vr AS (
  SELECT cum.g, min(v) AS varq, min(n) AS n
  FROM cum JOIN ng ON cum.g = ng.g
  WHERE cm >= CAST(ceil(0.95 * n) AS BIGINT)
  GROUP BY 1
), tail AS (
  SELECT pv0.g,
    sum(CAST(floor(v * c * 1048576.0) AS BIGINT)) / 1048576.0 AS ts,
    sum(c) AS tc
  FROM pv0 JOIN vr ON pv0.g = vr.g
  WHERE v >= varq GROUP BY 1
)
SELECT vr.g AS event_type, CAST(n AS BIGINT) AS n,
  round(varq, 6) AS var_q,
  round(ts / CAST(tc AS DOUBLE), 6) AS cvar_q,
  CAST(tc AS BIGINT) AS n_tail
FROM vr JOIN tail ON vr.g = tail.g
""")
def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% VaR (exact order statistic) + CVaR per event type over raw
    event values — upper-tail loss convention."""
    return tmp.var_cvar(_ev(spark, sf_dir), "value", "event_type", q=0.95)


@register("pettitt", oracle="""
WITH daily AS (""" + _DAILY_G_SQL + """
), qv AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), mid AS (
  SELECT g, d,
    CAST(rank() OVER (PARTITION BY g ORDER BY v) AS DOUBLE)
      + (count(*) OVER (PARTITION BY g, v) - 1) / 2.0 AS r
  FROM qv
), run AS (
  SELECT g, d,
    sum(r) OVER (PARTITION BY g ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
    count(*) OVER (PARTITION BY g ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t,
    count(*) OVER (PARTITION BY g) AS n
  FROM mid
), au AS (
  SELECT g, d, n, abs(2.0 * st - t * (n + 1.0)) AS a,
    max(abs(2.0 * st - t * (n + 1.0)))
      OVER (PARTITION BY g) AS kmax
  FROM run
)
SELECT g, CAST(min(n) AS BIGINT) AS n,
  round(min(kmax), 6) AS k_stat,
  min(CASE WHEN a = kmax THEN d END) AS change_at,
  round(least(1.0, 2.0 * exp(-6.0 * min(kmax) * min(kmax)
    / (pow(CAST(min(n) AS DOUBLE), 3) + pow(CAST(min(n) AS DOUBLE), 2)))),
    6) AS p_approx
FROM au GROUP BY g
""")
def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank changepoint on each type's daily series: running
    midrank sums, first-argmax break date, exponential p-approx."""
    return tmp.pettitt_test(_daily_series_r12(spark, sf_dir), "g", "d", "v")


_LAG1_MOMENTS_SQL = """
qv AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), pairs AS (
  SELECT g, v AS y,
    lag(v) OVER (PARTITION BY g ORDER BY d) AS x
  FROM qv
), pp AS (SELECT g, x, y FROM pairs WHERE x IS NOT NULL),
m AS (
  SELECT g, count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM pp GROUP BY 1
), mom AS (
  SELECT pp.g, n,
    CAST(CAST(sum(CAST(floor((x - mx) * (x - mx) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((x - mx) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy,
    CAST(CAST(sum(CAST(floor((y - my) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS syy
  FROM pp JOIN m ON pp.g = m.g GROUP BY 1, 2
)
"""


@register("adf_test", oracle="""
WITH daily AS (""" + _DAILY_G_SQL + """
), """ + _LAG1_MOMENTS_SQL + """
SELECT g, CAST(n AS BIGINT) AS n_pairs,
  round(CASE WHEN sxx > 0 THEN sxy / sxx - 1.0 END, 6) AS beta,
  round(CASE WHEN sxx > 0 AND n > 2
      AND (syy - sxy * sxy / sxx) / (n - 2.0) / sxx > 0
    THEN (sxy / sxx - 1.0)
      / sqrt((syy - sxy * sxy / sxx) / (n - 2.0) / sxx) END, 6)
    AS t_stat,
  CASE WHEN sxx > 0 AND n > 2
      AND (syy - sxy * sxy / sxx) / (n - 2.0) / sxx > 0
    THEN (sxy / sxx - 1.0)
      / sqrt((syy - sxy * sxy / sxx) / (n - 2.0) / sxx) < -2.86
    END AS stationary_5pct
FROM mom
""")
def q_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller lag-0 unit-root t on each type's daily series
    (closed-form from shared lag-1 moments; −2.86 5% cutoff)."""
    return tmp.adf_test(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("ar1_halflife", oracle="""
WITH daily AS (""" + _DAILY_G_SQL + """
), """ + _LAG1_MOMENTS_SQL + """
SELECT g, CAST(n AS BIGINT) AS n_pairs,
  round(CASE WHEN sxx > 0 THEN sxy / sxx END, 6) AS phi,
  round(CASE WHEN sxx > 0 AND sxy / sxx > 0 AND sxy / sxx < 1
    THEN -ln(2.0) / ln(sxy / sxx) END, 6) AS half_life
FROM mom
""")
def q_ar1_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) shock half-life per event type from the same lag-1
    moments: −ln2/lnφ inside (0,1), NULL otherwise."""
    return tmp.ar1_halflife(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("vwap", oracle="""
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS bucket,
  CAST(count(*) AS BIGINT) AS n,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
    AS volume,
  round(CASE WHEN CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
      AS DOUBLE) > 0
    THEN CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE)
        * CAST(l_quantity AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
      / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) END, 6)
    AS vwap
FROM lineitem
WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
GROUP BY 1
""")
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly volume-weighted average price over lineitem
    (extendedprice × quantity, exact-decimal sums)."""
    li = _t(spark, sf_dir, "lineitem")
    return tmp.vwap(
        li,
        F.date_trunc("month", F.col("l_shipdate")).cast("date"),
        "l_extendedprice",
        "l_quantity",
    )


def _cand_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared generation-eval pair plant: candidate = the document's
    token stream with every 7th token replaced by 'xxx' (pure
    substitution noise — length preserved), reference = the original
    text."""
    docs = _docs(spark, sf_dir)
    toks = txt.word_tokens(F.col("text"))
    cand = F.concat_ws(
        " ",
        F.transform(
            toks,
            lambda x, i: F.when(F.pmod(i, 7) == 0, F.lit("xxx")).otherwise(x),
        ),
    )
    # Materialize the pair table ONCE: bleu/chrf consume cand/ref in
    # ~10 gram-count subtrees, and Catalyst re-inlines this nested
    # tokenize->transform->rejoin expression into every one (CSE does
    # not reach across them) — measured 108 s -> ~5 s at sf0.1.
    return docs.select(
        "doc_id", cand.alias("cand"), F.col("text").alias("ref")
    ).localCheckpoint()


_CAND_REF_SQL = """
toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                x -> x <> '') AS rt
  FROM documents
), pairs AS (
  SELECT doc_id, rt,
    list_transform(range(1, CAST(len(rt) AS INTEGER) + 1),
      i -> CASE WHEN (i - 1) % 7 = 0 THEN 'xxx' ELSE rt[i] END) AS ct
  FROM toks
)
"""


def _bleu_gram_sql(col: str, n: int) -> str:
    """Word n-gram multiplicity counts from a token LIST column."""
    parts = " || ' ' || ".join(f"{col}[i+{k}]" for k in range(n))
    return (
        f"SELECT doc_id, gram, count(*) AS cnt FROM ("
        f"SELECT doc_id, unnest(list_transform("
        f"range(1, CAST(len({col}) AS INTEGER) - {n - 2}), "
        f"i -> {parts})) AS gram FROM pairs "
        f"WHERE len({col}) >= {n}) GROUP BY 1, 2"
    )


@register("bleu", oracle=(
    """
-- Same substitution plant, same clipped counts, same BP/geomean.
WITH """ + _CAND_REF_SQL + """
, pn AS (
""" + "\nUNION ALL\n".join(
        f"""  SELECT {n} AS n, sum(c.cnt) AS tot,
    sum(least(c.cnt, coalesce(r.cnt, 0))) AS clip
  FROM ({_bleu_gram_sql('ct', n)}) c
  LEFT JOIN ({_bleu_gram_sql('rt', n)}) r USING (doc_id, gram)"""
        for n in range(1, 5)
    ) + """
), pv AS (
  SELECT n, CASE WHEN tot > 0
    THEN clip / CAST(tot AS DOUBLE) END AS p
  FROM pn
), lens AS (
  SELECT count(*) AS n_pairs,
    sum(CAST(len(ct) AS INTEGER)) AS cl,
    sum(CAST(len(rt) AS INTEGER)) AS rl
  FROM pairs
), logs AS (
  SELECT sum(ln(p)) AS slog, count(*) FILTER (p > 0) AS npos,
    count(*) AS k,
    min(CASE WHEN n = 1 THEN p END) AS p1,
    min(CASE WHEN n = 2 THEN p END) AS p2,
    min(CASE WHEN n = 3 THEN p END) AS p3,
    min(CASE WHEN n = 4 THEN p END) AS p4
  FROM pv
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(cl AS BIGINT) AS cand_len, CAST(rl AS BIGINT) AS ref_len,
  round(CASE WHEN CAST(cl AS DOUBLE) >= rl THEN 1.0
    WHEN cl > 0 THEN exp(1.0 - CAST(rl AS DOUBLE) / cl)
    ELSE 0.0 END, 6) AS bp,
  round(p1, 6) AS p1, round(p2, 6) AS p2,
  round(p3, 6) AS p3, round(p4, 6) AS p4,
  round(CASE WHEN npos = k THEN
    (CASE WHEN CAST(cl AS DOUBLE) >= rl THEN 1.0
      WHEN cl > 0 THEN exp(1.0 - CAST(rl AS DOUBLE) / cl)
      ELSE 0.0 END)
    * exp(slog / k) END, 6) AS bleu
FROM lens, logs
"""
))
def q_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-4 of the every-7th-token-corrupted candidate
    against the original documents: clipped n-gram precisions,
    brevity penalty, geometric mean."""
    return txt.bleu_corpus(_cand_ref(spark, sf_dir), "cand", "ref")


@register("chrf", oracle=(
    """
-- Same stripped char streams, same clipped char-gram counts, same
-- macro average and beta=2 F.
WITH """ + _CAND_REF_SQL + """
, streams AS (
  SELECT p.doc_id,
    list_aggregate(ct, 'string_agg', '') AS cs,
    regexp_replace(lower(d.text), '\\s+', '', 'g') AS rs
  FROM pairs p JOIN documents d ON p.doc_id = d.doc_id
), pn AS (
""" + "\nUNION ALL\n".join(
        f"""  SELECT {n} AS n, sum(coalesce(c.cnt, 0)) AS tc,
    sum(coalesce(r.cnt, 0)) AS tr,
    sum(least(coalesce(c.cnt, 0), coalesce(r.cnt, 0))) AS clip
  FROM (
    SELECT doc_id, gram, count(*) AS cnt FROM (
      SELECT doc_id, unnest(list_transform(
        range(1, CAST(length(cs) AS INTEGER) - {n} + 2),
        i -> substr(cs, i, {n}))) AS gram
      FROM streams WHERE length(cs) >= {n}) GROUP BY 1, 2
  ) c
  FULL OUTER JOIN (
    SELECT doc_id, gram, count(*) AS cnt FROM (
      SELECT doc_id, unnest(list_transform(
        range(1, CAST(length(rs) AS INTEGER) - {n} + 2),
        i -> substr(rs, i, {n}))) AS gram
      FROM streams WHERE length(rs) >= {n}) GROUP BY 1, 2
  ) r USING (doc_id, gram)"""
        for n in range(1, 7)
    ) + """
), pr AS (
  SELECT
    CASE WHEN tc > 0 THEN clip / CAST(tc AS DOUBLE) ELSE 0.0 END AS p,
    CASE WHEN tr > 0 THEN clip / CAST(tr AS DOUBLE) ELSE 0.0 END AS r
  FROM pn
), mac AS (
  SELECT sum(CAST(floor(p * 1048576.0) AS BIGINT)) / 1048576.0 AS sp,
    sum(CAST(floor(r * 1048576.0) AS BIGINT)) / 1048576.0 AS sr,
    count(*) AS k
  FROM pr
), cnt AS (SELECT count(*) AS n_pairs FROM pairs)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
  round(sp / k, 6) AS chrp, round(sr / k, 6) AS chrr,
  round(CASE WHEN 4.0 * (sp / k) + (sr / k) > 0
    THEN 5.0 * (sp / k) * (sr / k) / (4.0 * (sp / k) + (sr / k))
    ELSE 0.0 END, 6) AS chrf
FROM mac, cnt
"""
))
def q_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus chrF2 (char 1-6-grams, β=2) for the same candidate
    plant — the candidate drops punctuation (token reconstruction),
    so chrR < 1 even where BLEU's word view is clean."""
    return txt.chrf_corpus(_cand_ref(spark, sf_dir), "cand", "ref")


@register("term_burstiness", oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
    x -> x <> '')) AS t
  FROM documents
), per_doc AS (
  SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2
), per_term AS (
  SELECT t, count(*) AS dfv, sum(c) AS cf, sum(c * c) AS cf2
  FROM per_doc GROUP BY 1 HAVING count(*) >= 5
)
SELECT t AS term, CAST(dfv AS BIGINT) AS df_docs,
  CAST(cf AS BIGINT) AS cf,
  round(cf / CAST(dfv AS DOUBLE), 6) AS mean_per_doc,
  round(CASE WHEN cf / CAST(dfv AS DOUBLE) > 0 THEN
    (CASE WHEN dfv > 1 THEN
      (cf2 - CAST(dfv AS DOUBLE) * (cf / CAST(dfv AS DOUBLE))
        * (cf / CAST(dfv AS DOUBLE))) / (CAST(dfv AS DOUBLE) - 1.0)
      END) / (cf / CAST(dfv AS DOUBLE)) END, 6) AS fano
FROM per_term
""")
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness over document terms with df >= 5:
    per-containing-doc mean and Fano factor from one exact
    count/count² aggregate."""
    return txt.term_burstiness(_docs(spark, sf_dir), min_df=5)


@register("token_fertility", oracle="""
WITH src AS (
  SELECT lang,
    CAST(len(regexp_extract_all(text,
      '""" + txt.BPE_PIECE_RE.replace("'", "''") + """')) AS INTEGER)
      AS p,
    CAST(len(list_filter(regexp_split_to_array(lower(text),
      '[^a-z0-9'']+'), x -> x <> '')) AS INTEGER) AS w
  FROM documents WHERE lang IS NOT NULL
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(p) AS BIGINT) AS pieces, CAST(sum(w) AS BIGINT) AS words,
  round(CASE WHEN sum(w) > 0
    THEN sum(p) / CAST(sum(w) AS DOUBLE) END, 6) AS fertility
FROM src GROUP BY 1
""")
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-piece-per-word fertility by language over the documents
    table — the multilingual token-budget planner."""
    return txt.token_fertility(_docs(spark, sf_dir))


@register("spectral_entropy", oracle="""
WITH d AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    avg(CAST(value AS DOUBLE)) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT key, x,
    row_number() OVER (PARTITION BY key ORDER BY b) - 1 AS t,
    count(*) OVER (PARTITION BY key) AS n
  FROM d
), m AS (SELECT key, avg(x) AS mu FROM s GROUP BY key),
c AS (
  SELECT s.key, x - mu AS cx, t, n, k
  FROM s JOIN m ON s.key = m.key
  CROSS JOIN (SELECT unnest(range(1, 9)) AS k)
), a AS (
  SELECT key, CAST(k AS INTEGER) AS k,
    round((sum(cx * cos(2.0 * pi() * k * t / CAST(n AS DOUBLE)))
      * sum(cx * cos(2.0 * pi() * k * t / CAST(n AS DOUBLE)))
      + sum(cx * sin(2.0 * pi() * k * t / CAST(n AS DOUBLE)))
      * sum(cx * sin(2.0 * pi() * k * t / CAST(n AS DOUBLE))))
      / CAST(max(n) AS DOUBLE), 6) AS power
  FROM c GROUP BY 1, 2
), tot AS (
  SELECT key,
    sum(CAST(floor(power * 1048576.0) AS BIGINT)) / 1048576.0 AS tt,
    count(*) AS kk
  FROM a GROUP BY 1
), j AS (
  SELECT a.key, a.k, a.power, tt, kk,
    CASE WHEN tt > 0 THEN power / tt END AS p,
    max(power) OVER (PARTITION BY a.key) AS wmax
  FROM a JOIN tot ON a.key = tot.key
)
SELECT key AS event_type, CAST(min(kk) AS INTEGER) AS k_used,
  round(sum(CASE WHEN p > 0
      THEN CAST(floor(-p * ln(p) * 1048576.0) AS BIGINT) ELSE 0 END)
    / 1048576.0 / ln(CAST(min(kk) AS DOUBLE)), 6) AS h_norm,
  min(CASE WHEN power = wmax THEN k END) AS peak_k,
  round(max(p), 6) AS peak_frac
FROM j GROUP BY key
""")
def q_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of each type's daily series over
    periodogram harmonics 1-8 — the forecastability score; fxp-summed
    normalized powers."""
    ev = _ev(spark, sf_dir)
    return tmp.spectral_entropy(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


@register("sax", oracle="""
WITH d AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    avg(CAST(value AS DOUBLE)) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT key, floor(x * 1048576.0) / 1048576.0 AS x,
    row_number() OVER (PARTITION BY key ORDER BY b) - 1 AS t,
    count(*) OVER (PARTITION BY key) AS n
  FROM d
), mom AS (
  SELECT key, min(n) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS m
  FROM s GROUP BY 1
), ssq AS (
  SELECT s.key, mom.m, mom.n,
    sum(CAST(floor((x - m) * (x - m) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ss
  FROM s JOIN mom ON s.key = mom.key GROUP BY 1, 2, 3
), z AS (
  SELECT s.key,
    CASE WHEN sqrt(ss / (CAST(ssq.n AS DOUBLE) - 1.0)) > 0
      THEN (x - ssq.m) / sqrt(ss / (CAST(ssq.n AS DOUBLE) - 1.0))
      ELSE 0.0 END AS z,
    CAST(floor(t * 8 / CAST(ssq.n AS DOUBLE)) AS INTEGER) AS seg,
    ssq.n
  FROM s JOIN ssq ON s.key = ssq.key
), paa AS (
  SELECT key, seg, min(n) AS n,
    floor(avg(z) * 1048576.0) / 1048576.0 AS pz
  FROM z GROUP BY 1, 2
), sym AS (
  SELECT key, seg, n,
    CASE WHEN pz < -0.6745 THEN 'a' WHEN pz < 0.0 THEN 'b'
         WHEN pz < 0.6745 THEN 'c' ELSE 'd' END AS s
  FROM paa
)
SELECT key AS event_type, CAST(min(n) AS BIGINT) AS n,
  string_agg(s, '' ORDER BY seg) AS sax
FROM sym GROUP BY key
""")
def q_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX shape fingerprint (w=8, alphabet 4) of each type's daily
    series: z-normalize, PAA, Gaussian-breakpoint letters."""
    ev = _ev(spark, sf_dir)
    return tmp.sax_symbols(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


@register("croston", oracle="""
WITH src AS (
  SELECT user_id % 20 AS key, ts, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), b AS (
  SELECT key, date_trunc('day', ts) AS d,
    floor(sum(coalesce(v, 0.0)) * 1048576.0) / 1048576.0 AS z
  FROM src GROUP BY 1, 2
), agg AS (
  SELECT key, count(*) AS nb,
    count(*) FILTER (z <> 0) AS nz,
    sum(CAST(floor(z * 1048576.0) AS BIGINT))
      FILTER (z <> 0) / 1048576.0 AS sz,
    sum(CAST(floor(z * z * 1048576.0) AS BIGINT))
      FILTER (z <> 0) / 1048576.0 AS sz2
  FROM b GROUP BY 1
), st AS (
  SELECT key, nb, nz,
    sz / nz AS mz,
    CASE WHEN nz > 1
      THEN (sz2 - nz * (sz / nz) * (sz / nz)) / (CAST(nz AS DOUBLE) - 1.0)
      END AS var,
    CAST(nb AS DOUBLE) / nz AS adi
  FROM agg WHERE nz > 0
), cl AS (
  SELECT key, nb, nz, adi, mz,
    CASE WHEN mz <> 0 THEN var / (mz * mz) END AS cv2
  FROM st
)
SELECT key AS shard, CAST(nb AS BIGINT) AS n_buckets,
  CAST(nz AS BIGINT) AS n_nonzero,
  round(adi, 6) AS adi, round(cv2, 6) AS cv2,
  CASE WHEN cv2 IS NULL THEN 'degenerate'
       WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
       WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
       WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
       ELSE 'lumpy' END AS pattern,
  round(mz / adi, 6) AS forecast
FROM cl
""")
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos–Boylan demand classification + SMA-Croston forecast
    over per-user-shard daily purchase demand (20 series with
    naturally missing days)."""
    ev = _ev(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    keyed = ev.select(
        F.pmod(F.col("user_id"), 20).alias("shard"), "ts", "value"
    )
    return tmp.croston_profile(keyed, "shard", "ts", "value") \
        .withColumnRenamed("key", "shard")


@register("ts_features", oracle="""
WITH d AS (
  SELECT event_type AS key, date_trunc('day', ts) AS b,
    avg(CAST(value AS DOUBLE)) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT key, floor(x * 1048576.0) / 1048576.0 AS v,
    CAST(row_number() OVER (PARTITION BY key ORDER BY b) - 1
      AS DOUBLE) AS t,
    lag(floor(x * 1048576.0) / 1048576.0)
      OVER (PARTITION BY key ORDER BY b) AS pr,
    lead(floor(x * 1048576.0) / 1048576.0)
      OVER (PARTITION BY key ORDER BY b) AS nx,
    b
  FROM d
), run AS (
  SELECT key, v, b,
    sum(CASE WHEN pr IS NULL OR v <> pr THEN 1 ELSE 0 END)
      OVER (PARTITION BY key ORDER BY b
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM s
), flat AS (
  SELECT key, max(len) AS fl FROM (
    SELECT key, rid, count(*) AS len FROM run GROUP BY 1, 2
  ) GROUP BY 1
), m AS (
  SELECT key, count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mv,
    floor(avg(t) * 1048576.0) / 1048576.0 AS mt,
    count(*) FILTER (pr IS NOT NULL AND nx IS NOT NULL
      AND ((v > pr AND v > nx) OR (v < pr AND v < nx))) AS turns
  FROM s GROUP BY 1
), mom AS (
  SELECT s.key, n, mv, turns,
    sum(CAST(floor((v - mv) * (v - mv) * 1048576.0) AS BIGINT))
      / 1048576.0 AS svv,
    sum(CAST(floor((t - mt) * (t - mt) * 1048576.0) AS BIGINT))
      / 1048576.0 AS stt,
    sum(CAST(floor((t - mt) * (v - mv) * 1048576.0) AS BIGINT))
      / 1048576.0 AS stv
  FROM s JOIN m ON s.key = m.key GROUP BY 1, 2, 3, 4
), lagm AS (
  SELECT key, count(*) AS np,
    floor(avg(pr) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(v) * 1048576.0) / 1048576.0 AS my
  FROM s WHERE pr IS NOT NULL GROUP BY 1
), lagj AS (
  SELECT s.key,
    sum(CAST(floor((pr - mx) * (pr - mx) * 1048576.0) AS BIGINT))
      / 1048576.0 AS lxx,
    sum(CAST(floor((v - my) * (v - my) * 1048576.0) AS BIGINT))
      / 1048576.0 AS lyy,
    sum(CAST(floor((pr - mx) * (v - my) * 1048576.0) AS BIGINT))
      / 1048576.0 AS lxy
  FROM s JOIN lagm ON s.key = lagm.key
  WHERE pr IS NOT NULL GROUP BY 1
)
SELECT mom.key AS event_type, CAST(n AS BIGINT) AS n,
  round(mv, 6) AS mean,
  round(sqrt(svv / (CAST(n AS DOUBLE) - 1.0)), 6) AS sd,
  round(CASE WHEN mv <> 0
    THEN sqrt(svv / (CAST(n AS DOUBLE) - 1.0)) / abs(mv) END, 6) AS cv,
  round(CASE WHEN sqrt(lxx * lyy) > 0
    THEN lxy / sqrt(lxx * lyy) END, 6) AS acf1,
  round(CASE WHEN stt > 0 THEN stv / stt END, 6) AS trend_slope,
  round(CASE WHEN n > 2
    THEN turns / (CAST(n AS DOUBLE) - 2.0) END, 6) AS turning_rate,
  CAST(fl AS BIGINT) AS longest_flat
FROM mom
JOIN lagj ON mom.key = lagj.key
JOIN flat ON mom.key = flat.key
""")
def q_ts_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-feature vector (mean/sd/cv/acf1/slope/turning-rate/
    longest-flat) of each type's daily series — the series-clustering
    input."""
    ev = _ev(spark, sf_dir)
    return tmp.ts_features(ev, "event_type", "ts", "value") \
        .withColumnRenamed("key", "event_type")


@register("reciprocity", oracle="""
WITH e AS (
  SELECT DISTINCT user_id % 200 AS u, event_id % 200 AS v
  FROM events WHERE user_id % 200 <> event_id % 200
), m AS (
  SELECT count(*) AS nm FROM e
  WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.u = e.v AND e2.v = e.u)
), n AS (SELECT count(*) AS ne FROM e)
SELECT CAST(ne AS BIGINT) AS n_edges, CAST(nm AS BIGINT) AS n_mutual,
  round(CASE WHEN ne > 0 THEN nm / CAST(ne AS DOUBLE) END, 6)
    AS reciprocity
FROM n, m
""")
def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity of the planted user-interaction graph
    (u = user_id%200 → v = event_id%200): distinct edges + one
    swapped-key semi join."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        reciprocity,
    )

    ev = _ev(spark, sf_dir)
    e = ev.select(
        F.pmod(F.col("user_id"), 200).alias("u"),
        F.pmod(F.col("event_id"), 200).alias("v"),
    )
    return reciprocity(e, "u", "v")


@register("pref_attach", oracle="""
WITH e AS (
  SELECT DISTINCT l_suppkey AS n, l_partkey AS k FROM lineitem
), deg AS (
  SELECT n, count(*) AS d FROM e GROUP BY 1
), pairs AS (
  SELECT a.n AS a, b.n AS b, count(*) AS common
  FROM e a JOIN e b ON a.k = b.k AND a.n < b.n
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT a, b, CAST(common AS BIGINT) AS common,
  CAST(da.d * db.d AS BIGINT) AS pref_attachment,
  round(common / sqrt(CAST(da.d AS DOUBLE) * db.d), 6) AS cosine
FROM pairs
JOIN deg da ON pairs.a = da.n
JOIN deg db ON pairs.b = db.n
""")
def q_pref_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / preferential-attachment / cosine link scores
    on the bipartite supplier-part graph (shared-key candidate
    discipline, min_common=3)."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        link_prediction_scores,
    )

    li = _t(spark, sf_dir, "lineitem")
    return link_prediction_scores(
        li, "l_suppkey", "l_partkey", min_common=3
    )


@register("skyline", oracle="""
WITH sup AS (
  SELECT l_suppkey,
    floor(avg(CAST(l_extendedprice AS DOUBLE)) * 1048576.0)
      / 1048576.0 AS avg_price,
    floor(avg(CAST(l_discount AS DOUBLE)) * 1048576.0)
      / 1048576.0 AS avg_disc
  FROM lineitem GROUP BY 1
), perx AS (
  SELECT avg_price, min(avg_disc) AS mx FROM sup GROUP BY 1
), pre AS (
  SELECT avg_price, mx,
    min(mx) OVER (ORDER BY avg_price
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt
  FROM perx
)
SELECT s.l_suppkey, s.avg_price, s.avg_disc
FROM sup s JOIN pre p USING (avg_price)
WHERE (p.mlt IS NULL OR p.mlt > s.avg_disc) AND s.avg_disc = p.mx
""")
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of suppliers minimizing BOTH grid-floored avg
    price and avg discount — two window passes, no pairwise join."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        skyline_2d,
    )

    li = _t(spark, sf_dir, "lineitem")
    sup = li.groupBy("l_suppkey").agg(
        (F.floor(F.avg("l_extendedprice") * 1048576.0) / 1048576.0).alias(
            "avg_price"
        ),
        (F.floor(F.avg("l_discount") * 1048576.0) / 1048576.0).alias(
            "avg_disc"
        ),
    )
    return skyline_2d(sup, "avg_price", "avg_disc")


_POLYS = [
    # (poly_id, vidx, x, y) — triangle, square, concave chevron
    (1, 0, 0.0, 0.0), (1, 1, 9.0, 0.0), (1, 2, 0.0, 9.0),
    (2, 0, 2.0, 2.0), (2, 1, 8.0, 2.0), (2, 2, 8.0, 8.0), (2, 3, 2.0, 8.0),
    (3, 0, 1.0, 1.0), (3, 1, 9.0, 1.0), (3, 2, 9.0, 9.0),
    (3, 3, 5.0, 5.0), (3, 4, 1.0, 9.0),
]


_POLY_EDGES_SQL = """
  SELECT * FROM (VALUES
    (1, 0.0, 0.0, 9.0, 0.0), (1, 9.0, 0.0, 0.0, 9.0),
    (1, 0.0, 9.0, 0.0, 0.0),
    (2, 2.0, 2.0, 8.0, 2.0), (2, 8.0, 2.0, 8.0, 8.0),
    (2, 8.0, 8.0, 2.0, 8.0), (2, 2.0, 8.0, 2.0, 2.0),
    (3, 1.0, 1.0, 9.0, 1.0), (3, 9.0, 1.0, 9.0, 9.0),
    (3, 9.0, 9.0, 5.0, 5.0), (3, 5.0, 5.0, 1.0, 9.0),
    (3, 1.0, 9.0, 1.0, 1.0)
  ) AS e(pid, x1, y1, x2, y2)
"""


@register("point_in_poly", oracle="""
WITH pts AS (
  SELECT c_custkey AS point_id,
    (c_custkey % 97) / 10.0 AS px,
    ((c_custkey * 7) % 97) / 10.0 AS py
  FROM customer
), edges AS (""" + _POLY_EDGES_SQL + """
), crossed AS (
  SELECT point_id, pid
  FROM pts, edges
  WHERE ((y1 > py) <> (y2 > py))
    AND px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
)
SELECT point_id, CAST(pid AS INTEGER) AS poly_id
FROM crossed GROUP BY 1, 2 HAVING count(*) % 2 = 1
""")
def q_point_in_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even-odd ray-casting point-in-polygon join: customers at
    deterministic synthetic coordinates against three literal
    geofences (one concave) — broadcast edge list, one crossing
    aggregate."""
    from from_superset_to_clickhouse_spark.operators.geo import (
        point_in_polygons,
    )

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        (F.pmod(F.col("c_custkey"), 97) / F.lit(10.0)).alias("x"),
        (F.pmod(F.col("c_custkey") * 7, 97) / F.lit(10.0)).alias("y"),
    )
    polys = spark.createDataFrame(
        _POLYS, "poly_id int, vidx int, x double, y double"
    )
    return point_in_polygons(cust, polys)


@register("newey_west", oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
    avg(CAST(value AS DOUBLE)) AS v0
  FROM events WHERE value IS NOT NULL GROUP BY 1
), qv AS (
  SELECT d, floor(v0 * 1048576.0) / 1048576.0 AS v FROM daily
), m AS (
  SELECT count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mv
  FROM qv
), lagged AS (
  SELECT n, mv, v - mv AS d0,
    lag(v, 1) OVER (ORDER BY d) - mv AS d1,
    lag(v, 2) OVER (ORDER BY d) - mv AS d2,
    lag(v, 3) OVER (ORDER BY d) - mv AS d3,
    lag(v, 4) OVER (ORDER BY d) - mv AS d4,
    lag(v, 5) OVER (ORDER BY d) - mv AS d5
  FROM qv, m
), agg AS (
  SELECT n, mv,
    sum(CAST(floor(d0 * d0 * 1048576.0) AS BIGINT)) / 1048576.0 AS g0,
    sum(CAST(floor(d0 * d1 * 1048576.0) AS BIGINT)) / 1048576.0 AS g1,
    sum(CAST(floor(d0 * d2 * 1048576.0) AS BIGINT)) / 1048576.0 AS g2,
    sum(CAST(floor(d0 * d3 * 1048576.0) AS BIGINT)) / 1048576.0 AS g3,
    sum(CAST(floor(d0 * d4 * 1048576.0) AS BIGINT)) / 1048576.0 AS g4,
    sum(CAST(floor(d0 * d5 * 1048576.0) AS BIGINT)) / 1048576.0 AS g5
  FROM lagged GROUP BY 1, 2
), st AS (
  SELECT n, mv, g0 / n AS gg0,
    g0 / n
    + 2.0 * (1.0 - 1.0 / 6.0) * (g1 / n)
    + 2.0 * (1.0 - 2.0 / 6.0) * (g2 / n)
    + 2.0 * (1.0 - 3.0 / 6.0) * (g3 / n)
    + 2.0 * (1.0 - 4.0 / 6.0) * (g4 / n)
    + 2.0 * (1.0 - 5.0 / 6.0) * (g5 / n) AS lr
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n, round(mv, 6) AS mean,
  round(sqrt(gg0 / n), 6) AS se_iid,
  round(CASE WHEN lr > 0 THEN sqrt(lr / n) END, 6) AS se_nw,
  round(CASE WHEN sqrt(gg0 / n) > 0
    THEN (CASE WHEN lr > 0 THEN sqrt(lr / n) END) / sqrt(gg0 / n)
    END, 6) AS inflation
FROM st
""")
def q_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAC standard error of the overall daily mean-value series
    (Bartlett weights, 5 lags): the iid-vs-long-run uncertainty
    inflation readout."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        newey_west_se,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).agg(F.avg("value").alias("v"))
    return newey_west_se(daily, "d", "v", lags=5)


@register("lorenz", oracle="""
WITH src AS (
  SELECT floor(CAST(o_totalprice AS DOUBLE) * 1048576.0)
    / 1048576.0 AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), pv AS (
  SELECT v, count(*) AS c FROM src GROUP BY 1
), pw AS (
  SELECT v, c, coalesce(sum(c) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM pv
), tot AS (SELECT count(*) AS n FROM src),
binned AS (
  SELECT CAST(floor(10 * bef / CAST(n AS DOUBLE)) AS INTEGER) AS dec,
    c, v
  FROM pw, tot
), cells AS (
  SELECT dec, sum(c) AS nc,
    sum(CAST(floor(v * c * 1048576.0) AS BIGINT)) / 1048576.0 AS sv
  FROM binned GROUP BY 1
), run AS (
  SELECT dec, nc,
    sum(nc) OVER (ORDER BY dec
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
    sum(sv) OVER (ORDER BY dec
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
  FROM cells
), totals AS (SELECT sum(nc) AS tn, sum(sv) AS tv FROM cells)
SELECT dec AS decile, CAST(nc AS BIGINT) AS n,
  round(cn / CAST(tn AS DOUBLE), 6) AS cum_pop_frac,
  round(CASE WHEN tv <> 0 THEN cv / tv END, 6) AS cum_val_frac
FROM run, totals
""")
def q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve of order totals by population
    decile (distinct-value block deciles, fxp mass sums) — the curve
    behind the gini entry."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        lorenz_curve,
    )

    return lorenz_curve(
        _t(spark, sf_dir, "orders"), "o_totalprice", buckets=10
    )


# ---------------------------------------------------------------------------
# Location estimators, method comparison, survival, reliability and
# regression-stability tests.


def _daily_value_r14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded daily mean-value series (~30 rows) for the pair-based
    r13 location estimators — the ``_daily_xy`` discipline."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        (F.floor(F.avg("value") * 1048576.0) / 1048576.0).alias("v")
    ).filter(F.col("v").isNotNull())


@register("hodges_lehmann", oracle="""
-- Same grid daily series, same i <= j Walsh pairs, same two-middle
-- median.
WITH daily AS (
  SELECT floor(avg(value) * 1048576.0) / 1048576.0 AS v
  FROM events GROUP BY date_trunc('day', ts)
), src AS (SELECT v FROM daily WHERE v IS NOT NULL),
idx AS (SELECT v, row_number() OVER (ORDER BY v) AS i FROM src),
walsh AS (
  SELECT (a.v + b.v) / 2.0 AS w FROM idx a, idx b WHERE a.i <= b.i
), rw AS (
  SELECT w, row_number() OVER (ORDER BY w) AS r FROM walsh
), m AS (SELECT count(*) AS m FROM walsh),
mid AS (
  SELECT w FROM rw, m
  WHERE r = CAST(ceil(m / 2.0) AS BIGINT)
     OR r = CAST(floor(m / 2.0) AS BIGINT) + 1
)
SELECT (SELECT count(*) FROM src) AS n,
  (SELECT CAST(m AS BIGINT) FROM m) AS n_pairs,
  (SELECT round(avg(w), 6) FROM mid) AS hl
""")
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudomedian of the daily mean event value:
    median of all Walsh averages over the ~30-point bounded series
    (the kendall pair-join contract); every average lands exactly on
    the 2^-21 grid."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        hodges_lehmann,
    )

    return hodges_lehmann(_daily_value_r14(spark, sf_dir), "v")


@register("bland_altman", oracle="""
-- Same per-line fxp recomputed total, same grid diffs/mean/sd.
WITH comp AS (
  SELECT l_orderkey AS ok,
    sum(CAST(floor(CAST(l_extendedprice AS DOUBLE)
      * (1.0 - CAST(l_discount AS DOUBLE))
      * (1.0 + CAST(l_tax AS DOUBLE)) * 1048576.0) AS BIGINT))
      / 1048576.0 AS b
  FROM lineitem GROUP BY 1
), src AS (
  SELECT floor(CAST(o.o_totalprice AS DOUBLE) * 1048576.0) / 1048576.0
    - floor(c.b * 1048576.0) / 1048576.0 AS d
  FROM orders o JOIN comp c ON o.o_orderkey = c.ok
  WHERE o.o_totalprice IS NOT NULL
), m AS (
  SELECT count(*) AS n, floor(avg(d) * 1048576.0) / 1048576.0 AS mu
  FROM src
), s AS (
  SELECT n, mu,
    CAST(CAST(sum(CAST(floor((d - mu) * (d - mu) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS ss
  FROM src, m GROUP BY 1, 2
), fin AS (
  SELECT n, mu,
    CASE WHEN n > 1 THEN sqrt(ss / (n - 1.0)) END AS sd
  FROM s
), lim AS (
  SELECT n, mu, sd, mu - 1.96 * sd AS lo, mu + 1.96 * sd AS hi
  FROM fin
)
SELECT CAST(l.n AS BIGINT) AS n, round(l.mu, 6) AS bias,
  round(l.sd, 6) AS sd_diff, round(l.lo, 6) AS loa_low,
  round(l.hi, 6) AS loa_high,
  (SELECT round(avg(CASE WHEN d >= l2.lo AND d <= l2.hi
      THEN 1.0 ELSE 0.0 END), 6) FROM src, lim l2) AS pct_within
FROM lim l
""")
def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement between the order header total and the
    recomputed lineitem total price (sum of extendedprice x (1-disc)
    x (1+tax), floor-quantized per line so both engines sum exactly):
    bias, limits of agreement, observed coverage."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        bland_altman,
    )

    li = _t(spark, sf_dir, "lineitem")
    comp = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        (
            F.sum(
                F.floor(
                    F.col("l_extendedprice").cast("double")
                    * (1.0 - F.col("l_discount").cast("double"))
                    * (1.0 + F.col("l_tax").cast("double"))
                    * 1048576.0
                )
            )
            / 1048576.0
        ).alias("b")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_totalprice").cast("double").alias("a"),
    )
    return bland_altman(orders.join(comp, "ok"), "a", "b")


@register("nelson_aalen", oracle="""
-- Same lifetimes/censoring as kaplan_meier, hazard sums in t order.
WITH life0 AS (
  SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS f,
    CAST(max(o_orderdate) AS DATE) AS l
  FROM orders GROUP BY 1
), mx AS (SELECT max(l) AS m FROM life0),
life AS (
  SELECT date_diff('day', f, l) AS t_days,
    CASE WHEN date_diff('day', l, m) > 60 THEN 1 ELSE 0 END AS dead
  FROM life0 CROSS JOIN mx
), pt AS (
  SELECT t_days, count(*) AS n_t, sum(dead) AS d
  FROM life GROUP BY 1
), c AS (
  SELECT t_days, d,
    sum(n_t) OVER (ORDER BY t_days
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
  FROM pt
)
SELECT CAST(t_days AS INTEGER) AS t_days,
  CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
  round(sum(CAST(d AS DOUBLE) / n_risk)
    OVER (ORDER BY t_days
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
    AS cum_hazard,
  round(sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
    OVER (ORDER BY t_days
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
    AS var_hazard
FROM c WHERE d > 0
""")
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative churn hazard over customer order
    histories — the same lifetime/60-day-censoring construction as
    the kaplan_meier entry, reporting H(t) and its variance instead
    of S(t)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        nelson_aalen,
    )

    return nelson_aalen(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderdate",
        censor_horizon_days=60,
    )


@register("c_index", oracle="""
-- Same per-user table, same comparable/concordant/tied integer
-- counts.
WITH life AS (
  SELECT CAST(count(*) AS DOUBLE) AS score,
    CAST(date_diff('day', CAST(min(ts) AS DATE),
      CAST(max(ts) AS DATE)) AS DOUBLE) AS dur,
    CAST(max(ts) AS DATE) AS l
  FROM events GROUP BY user_id
), mx AS (SELECT max(l) AS m FROM life),
src AS (
  SELECT floor(score * 1048576.0) / 1048576.0 AS s,
    floor(dur * 1048576.0) / 1048576.0 AS t,
    CASE WHEN date_diff('day', l, m) > 0 THEN 1 ELSE 0 END AS e
  FROM life, mx
), pairs AS (
  SELECT a.s AS sa, b.s AS sb FROM src a, src b
  WHERE a.e = 1 AND a.t < b.t
), agg AS (
  SELECT count(*) AS np,
    count(*) FILTER (sa > sb) AS nc,
    count(*) FILTER (sa = sb) AS nt
  FROM pairs
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM src) AS n,
  CAST(np AS BIGINT) AS n_comparable,
  CAST(nc AS BIGINT) AS n_concordant,
  CAST(nt AS BIGINT) AS n_tied,
  round(CASE WHEN np > 0
    THEN (nc + 0.5 * nt) / CAST(np AS DOUBLE) END, 6) AS c_index
FROM agg
""")
def q_c_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's c-index of 'activity volume predicts user lifetime':
    per-user score = event count, duration = active-day span, event =
    inactive on the corpus' final day; exact integer pair counts over
    the bounded per-user table."""
    from from_superset_to_clickhouse_spark.operators.stats import c_index

    ev = _ev(spark, sf_dir)
    life = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.to_date(F.min("ts")).alias("_f"),
        F.to_date(F.max("ts")).alias("_l"),
        F.count("*").alias("score"),
    )
    mx = life.agg(F.max("_l").alias("_mx"))
    src = life.crossJoin(F.broadcast(mx)).select(
        F.col("score").cast("double").alias("score"),
        F.datediff(F.col("_l"), F.col("_f")).cast("double").alias("dur"),
        (F.datediff(F.col("_mx"), F.col("_l")) > 0).cast("int").alias("ev"),
    )
    return c_index(src, "score", "dur", "ev")


@register("process_capability", oracle="""
-- Same grid mean/variance, same exact out-of-spec count.
WITH src AS (
  SELECT floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT count(*) AS n, floor(avg(v) * 1048576.0) / 1048576.0 AS mu
  FROM src
), s AS (
  SELECT n, mu,
    sum(CAST(floor((v - mu) * (v - mu) * 1048576.0) AS BIGINT))
      / 1048576.0 AS ss,
    count(*) FILTER (v < 5.0 OR v > 150.0) AS outn
  FROM src, m GROUP BY 1, 2
), f AS (
  SELECT n, mu, outn,
    CASE WHEN n > 1 THEN sqrt(ss / (n - 1.0)) END AS sd
  FROM s
)
SELECT CAST(n AS BIGINT) AS n, round(mu, 6) AS mean,
  round(sd, 6) AS sd,
  round(CASE WHEN sd > 0 THEN (150.0 - 5.0) / (6.0 * sd) END, 6) AS cp,
  round(CASE WHEN sd > 0
    THEN least(150.0 - mu, mu - 5.0) / (3.0 * sd) END, 6) AS cpk,
  round(outn / CAST(n AS DOUBLE), 6) AS pct_out
FROM f
""")
def q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cp/Cpk of the event value stream against a [5, 150] spec band
    — the SPC 'is the metric pipeline within tolerance' summary with
    the exact observed out-of-spec fraction."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        process_capability,
    )

    return process_capability(
        _ev(spark, sf_dir), "value", lsl=5.0, usl=150.0
    )


@register("icc", oracle="""
-- Same unbalanced one-way ANOVA sums on the grid.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), per AS (
  SELECT g, count(*) AS ni,
    floor(avg(v) * 1048576.0) / 1048576.0 AS mi
  FROM src GROUP BY 1
), tot AS (
  SELECT count(*) AS n, floor(avg(v) * 1048576.0) / 1048576.0 AS mu
  FROM src
), btw AS (
  SELECT max(n) AS n, count(*) AS gk,
    sum(CAST(floor(ni * (mi - mu) * (mi - mu) * 1048576.0)
      AS BIGINT)) / 1048576.0 AS ssb,
    sum(ni * ni) AS sn2
  FROM per, tot GROUP BY ()
), wth AS (
  SELECT sum(CAST(floor((s.v - p.mi) * (s.v - p.mi) * 1048576.0)
      AS BIGINT)) / 1048576.0 AS ssw
  FROM src s JOIN per p ON s.g = p.g
), f AS (
  SELECT CAST(b.n AS DOUBLE) AS nn, CAST(b.gk AS DOUBLE) AS g,
    b.n AS n, b.gk AS gk, b.sn2 AS sn2, b.ssb AS ssb, w.ssw AS ssw
  FROM btw b, wth w
), d AS (
  SELECT n, gk,
    CASE WHEN g > 1 THEN ssb / (g - 1.0) END AS msb,
    CASE WHEN nn > g THEN ssw / (nn - g) END AS msw,
    CASE WHEN g > 1 THEN (nn - sn2 / nn) / (g - 1.0) END AS k0
  FROM f
)
SELECT CAST(n AS BIGINT) AS n, CAST(gk AS BIGINT) AS k_groups,
  round(k0, 6) AS k0, round(msb, 6) AS msb, round(msw, 6) AS msw,
  round(CASE WHEN msw IS NOT NULL
      AND msb + (k0 - 1.0) * msw > 0
    THEN (msb - msw) / (msb + (k0 - 1.0) * msw) END, 6) AS icc
FROM d
""")
def q_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects ICC(1,1) of event values grouped by
    event type: how much value variance is BETWEEN types vs within —
    closed-form unbalanced ANOVA on the 2^-20 grid."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        icc_oneway,
    )

    return icc_oneway(_ev(spark, sf_dir), "event_type", "value")


@register("breusch_pagan", oracle="""
-- Same grid OLS sums, same integer-exact auxiliary moments, exact
-- chi2(1) tail via the shared erf polynomial.
WITH src AS (
  SELECT floor(CAST(l_quantity AS DOUBLE) * 1048576.0) / 1048576.0 AS x,
    floor(CAST(l_extendedprice AS DOUBLE) * 1048576.0)
      / 1048576.0 AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM src
), s1 AS (
  SELECT n, mx, my,
    CAST(CAST(sum(CAST(floor((x - mx) * (x - mx) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((x - mx) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy
  FROM src, m1 GROUP BY 1, 2, 3
), base AS (
  SELECT n, mx, my,
    CASE WHEN sxx > 0 THEN sxy / sxx END AS b
  FROM s1
), mom AS (
  SELECT
    CAST(CAST(floor(x * 1048576.0) AS BIGINT) AS HUGEINT) AS ix,
    CAST(CAST(floor(((y - my) - b * (x - mx))
      * ((y - my) - b * (x - mx)) / 4096.0 * 1048576.0) AS BIGINT)
      AS HUGEINT) AS iu
  FROM src, base
), s2 AS (
  SELECT CAST(count(*) AS HUGEINT) AS n2,
    sum(ix) AS sx, sum(iu) AS su,
    sum(ix * iu) AS sxu, sum(ix * ix) AS sxx2, sum(iu * iu) AS suu
  FROM mom
), abc AS (
  SELECT CAST(CAST(n2 AS VARCHAR) AS DOUBLE) AS nn,
    CAST(CAST(n2 * sxu - sx * su AS VARCHAR) AS DOUBLE) AS a,
    CAST(CAST(n2 * sxx2 - sx * sx AS VARCHAR) AS DOUBLE) AS bq,
    CAST(CAST(n2 * suu - su * su AS VARCHAR) AS DOUBLE) AS cq
  FROM s2
), lmv AS (
  SELECT b.n AS n, b.b AS b,
    CASE WHEN a.bq > 0 AND a.cq > 0
      THEN a.nn * (a.a * a.a / (a.bq * a.cq)) END AS lm
  FROM base b, abc a
), z AS (
  SELECT n, b, lm, sqrt(lm) AS zz FROM lmv
), t AS (
  SELECT n, b, lm, zz, 1.0 / (1.0 + 0.3275911 * (zz / sqrt(2.0))) AS tt
  FROM z
)
SELECT CAST(n AS BIGINT) AS n, round(b, 6) AS slope,
  round(lm, 6) AS lm_stat,
  round(2.0 * (0.5 * (1.0 - (1.0 - (0.254829592 * tt
    - 0.284496736 * tt * tt + 1.421413741 * tt * tt * tt
    - 1.453152027 * tt * tt * tt * tt
    + 1.061405429 * tt * tt * tt * tt * tt)
    * exp(-(zz / sqrt(2.0)) * (zz / sqrt(2.0)))))), 6) AS p_value
FROM t
""")
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan (Koenker) heteroskedasticity check of
    extendedprice ~ quantity over lineitem: LM = n R-squared of the
    squared-residual auxiliary fit, exact chi-square(1) tail."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        breusch_pagan,
    )

    return breusch_pagan(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity"
    )


@register("chow", oracle="""
-- Same grid segment sums, same closed-form RSS and F.
WITH src AS (
  SELECT floor(CAST(l_quantity AS DOUBLE) * 1048576.0) / 1048576.0 AS x,
    floor(CAST(l_extendedprice AS DOUBLE) * 1048576.0)
      / 1048576.0 AS y,
    CAST(l_shipdate >= DATE '1998-01-01' AS BOOLEAN) AS g
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_shipdate IS NOT NULL
), mp AS (
  SELECT count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM src
), sp AS (
  SELECT n,
    CAST(CAST(sum(CAST(floor((x - mx) * (x - mx) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((y - my) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS syy,
    CAST(CAST(sum(CAST(floor((x - mx) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy
  FROM src, mp GROUP BY 1
), rp AS (
  SELECT n,
    CASE WHEN sxx > 0 THEN syy - sxy * sxy / sxx ELSE syy END AS r
  FROM sp
), mg AS (
  SELECT g, count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM src GROUP BY 1
), sg AS (
  SELECT s.g, m.n,
    CAST(CAST(sum(CAST(floor((s.x - m.mx) * (s.x - m.mx) * 1048576.0)
      AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((s.y - m.my) * (s.y - m.my) * 1048576.0)
      AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS syy,
    CAST(CAST(sum(CAST(floor((s.x - m.mx) * (s.y - m.my) * 1048576.0)
      AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy
  FROM src s JOIN mg m ON s.g = m.g GROUP BY 1, 2
), rg AS (
  SELECT g, n,
    CASE WHEN sxx > 0 THEN syy - sxy * sxy / sxx ELSE syy END AS r
  FROM sg
), two AS (
  SELECT count(*) AS k,
    max(CASE WHEN g THEN n END) AS na,
    max(CASE WHEN NOT g THEN n END) AS nb,
    sum(r) AS rs,
    max(CASE WHEN g THEN r END) AS ra,
    max(CASE WHEN NOT g THEN r END) AS rb
  FROM rg
)
SELECT CAST(p.n AS BIGINT) AS n, CAST(t.na AS BIGINT) AS n_a,
  CAST(t.nb AS BIGINT) AS n_b, round(p.r, 6) AS rss_pooled,
  round(t.ra, 6) AS rss_a, round(t.rb, 6) AS rss_b,
  round(CASE WHEN t.k = 2 AND p.n > 4 AND t.rs > 0
    THEN ((p.r - t.rs) / 2.0) / (t.rs / (p.n - 4.0)) END, 6)
    AS f_stat,
  CAST(2 AS INTEGER) AS df1, CAST(p.n - 4 AS BIGINT) AS df2
FROM rp p, two t
""")
def q_chow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test of extendedprice ~ quantity across
    the 1998 shipdate boundary: pooled vs per-segment closed-form
    RSS, F(2, n-4) statistic (no replayable F tail — the welch_anova
    convention)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        chow_test,
    )

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "post", F.col("l_shipdate") >= F.lit("1998-01-01").cast("date")
    )
    return chow_test(li, "l_extendedprice", "l_quantity", "post")


@register("granger", oracle="""
-- Same daily purchase/view series, same lag-1 normal equations.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
    floor(avg(CASE WHEN event_type = 'purchase' THEN value END)
      * 1048576.0) / 1048576.0 AS y,
    floor(avg(CASE WHEN event_type = 'view' THEN value END)
      * 1048576.0) / 1048576.0 AS x
  FROM events GROUP BY 1
), ser AS (
  SELECT d, x, y FROM daily WHERE x IS NOT NULL AND y IS NOT NULL
), lagd AS (
  SELECT y AS yt,
    lag(y) OVER (ORDER BY d) AS y1,
    lag(x) OVER (ORDER BY d) AS x1
  FROM ser
), rows_ AS (
  SELECT yt, y1, x1 FROM lagd WHERE y1 IS NOT NULL AND x1 IS NOT NULL
), m AS (
  SELECT count(*) AS n,
    floor(avg(yt) * 1048576.0) / 1048576.0 AS my,
    floor(avg(y1) * 1048576.0) / 1048576.0 AS m1,
    floor(avg(x1) * 1048576.0) / 1048576.0 AS m2
  FROM rows_
), s AS (
  SELECT n,
    sum(CAST(floor((yt - my) * (yt - my) * 1048576.0) AS BIGINT))
      / 1048576.0 AS syy,
    sum(CAST(floor((y1 - m1) * (y1 - m1) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s11,
    sum(CAST(floor((x1 - m2) * (x1 - m2) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s22,
    sum(CAST(floor((y1 - m1) * (x1 - m2) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s12,
    sum(CAST(floor((y1 - m1) * (yt - my) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s1y,
    sum(CAST(floor((x1 - m2) * (yt - my) * 1048576.0) AS BIGINT))
      / 1048576.0 AS s2y
  FROM rows_, m GROUP BY 1
), sol AS (
  SELECT n, syy, s11, s1y, s2y, s12, s22,
    s11 * s22 - s12 * s12 AS det
  FROM s
), bs AS (
  SELECT n, syy, s11, s1y, s2y, det,
    (s22 * s1y - s12 * s2y) / det AS b1,
    (s11 * s2y - s12 * s1y) / det AS b2
  FROM sol
), rr AS (
  SELECT n, det, b1, b2, s1y, s2y,
    CASE WHEN s11 > 0 THEN syy - s1y * s1y / s11 ELSE syy END AS rss_r,
    CASE WHEN det > 0 THEN syy - b1 * s1y - b2 * s2y END AS rss_u
  FROM bs
)
SELECT CAST(n AS BIGINT) AS n, round(rss_r, 6) AS rss_r,
  round(rss_u, 6) AS rss_u,
  round(CASE WHEN det > 0 THEN b1 END, 6) AS b_ylag,
  round(CASE WHEN det > 0 THEN b2 END, 6) AS b_xlag,
  round(CASE WHEN n > 3 AND rss_u > 0
    THEN (rss_r - rss_u) / (rss_u / (n - 3.0)) END, 6) AS f_stat,
  CAST(n - 3 AS BIGINT) AS df2
FROM rr
""")
def q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger test of 'do yesterday's views predict today's
    purchase value beyond its own history': daily purchase-mean (y)
    vs view-mean (x) series, closed-form restricted/unrestricted OLS
    over the ~30-day bounded series."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        granger_lag1,
    )

    ev = _ev(spark, sf_dir)
    g = lambda c: F.floor(c * 1048576.0) / 1048576.0  # noqa: E731
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        g(
            F.avg(
                F.when(F.col("event_type") == "purchase", F.col("value"))
            )
        ).alias("y"),
        g(
            F.avg(F.when(F.col("event_type") == "view", F.col("value")))
        ).alias("x"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    return granger_lag1(daily, "d", "x", "y")


# ---------------------------------------------------------------------------
# Model evaluation / indicator / text operators.


@register("mcfadden", oracle="""
-- The logreg_quality grid-walk fit plus the base-rate null LL; r2
-- from the two 6dp-rounded losses.
SELECT b.n, b.iters, b.log_loss, n0.log_loss_null,
  round(CASE WHEN n0.log_loss_null > 0
    THEN 1.0 - b.log_loss / n0.log_loss_null END, 6) AS mcfadden_r2
FROM (""" + _logreg_oracle_sql(8, 2.0) + """) b, (
  SELECT round(-(p * ln(p + 1e-12)
    + (1.0 - p) * ln(1.0 - p + 1e-12)), 6) AS log_loss_null
  FROM (SELECT floor(avg(CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END)
      * 1048576.0) / 1048576.0 AS p FROM embeddings)
) n0
""")
def q_mcfadden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McFadden pseudo-R-squared for the logreg_quality fit (label<5
    on the first four embedding dims, 8 grid-walk gradient steps):
    1 - LL/LL0 against the base-rate null, both 6dp-rounded before
    the ratio."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        mcfadden_r2,
    )

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.select(
        F.when(F.col("label") < 5, 1.0).otherwise(0.0).alias("y"),
        *[
            F.element_at("embedding", i).cast("double").alias(f"x{i}")
            for i in range(1, 5)
        ],
    )
    return mcfadden_r2(
        src, "y", ["x1", "x2", "x3", "x4"], iters=8, lr=2.0
    )


@register("feature_gain", oracle="""
-- Same stacked cells, same fxp impurity terms.
WITH src AS (
  SELECT CAST(value > 50 AS INTEGER) AS y, event_type AS etype,
    CAST(CAST(floor(date_part('hour', ts) / 6) AS INTEGER)
      AS VARCHAR) AS slot,
    CAST(user_id % 7 AS VARCHAR) AS umod
  FROM events WHERE value IS NOT NULL
), stacked AS (
  SELECT 'etype' AS f, etype AS v, y FROM src
  UNION ALL SELECT 'slot' AS f, slot AS v, y FROM src
  UNION ALL SELECT 'umod' AS f, umod AS v, y FROM src
), cells AS (
  SELECT f, v, count(*) AS c, sum(y) AS p
  FROM stacked WHERE v IS NOT NULL GROUP BY 1, 2
), per AS (
  SELECT f, sum(c) AS n, sum(p) AS np,
    sum(CAST(floor(CAST(c AS DOUBLE)
      * (2.0 * (CAST(p AS DOUBLE) / c) * (1.0 - CAST(p AS DOUBLE) / c))
      * 1048576.0) AS BIGINT)) / 1048576.0 AS wg,
    sum(CAST(floor(CAST(c AS DOUBLE)
      * (-(CASE WHEN CAST(p AS DOUBLE) / c > 0
          THEN (CAST(p AS DOUBLE) / c) * ln(CAST(p AS DOUBLE) / c)
          ELSE 0.0 END
        + CASE WHEN CAST(p AS DOUBLE) / c < 1
          THEN (1.0 - CAST(p AS DOUBLE) / c)
            * ln(1.0 - CAST(p AS DOUBLE) / c)
          ELSE 0.0 END))
      * 1048576.0) AS BIGINT)) / 1048576.0 AS we
  FROM cells GROUP BY 1
), fin AS (
  SELECT f, n, CAST(np AS DOUBLE) / n AS pr, wg, we FROM per
)
SELECT f AS feature, CAST(n AS BIGINT) AS n,
  round(2.0 * pr * (1.0 - pr), 6) AS gini_parent,
  round(2.0 * pr * (1.0 - pr) - wg / CAST(n AS DOUBLE), 6)
    AS gini_gain,
  round(-(CASE WHEN pr > 0 THEN pr * ln(pr) ELSE 0.0 END
      + CASE WHEN pr < 1 THEN (1.0 - pr) * ln(1.0 - pr)
        ELSE 0.0 END)
    - we / CAST(n AS DOUBLE), 6) AS info_gain
FROM fin
""")
def q_feature_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini / information-gain ranking of three categorical features
    (event type, 6-hour slot, user mod-7) against the high-value
    outcome — one stacked cell aggregate, fxp impurity terms."""
    from from_superset_to_clickhouse_spark.operators.mleval import (
        feature_gain,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    src = ev.select(
        (F.col("value") > 50).cast("int").alias("y"),
        F.col("event_type").alias("etype"),
        (F.hour("ts") / 6).cast("int").cast("string").alias("slot"),
        (F.col("user_id") % 7).cast("string").alias("umod"),
    )
    return feature_gain(src, "y", ["etype", "slot", "umod"])


_OHLC_GRID_R14 = """
src AS (
  SELECT event_type, ts, event_id,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), b AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    ts, event_id, v FROM src
), o AS (
  SELECT *, row_number() OVER (PARTITION BY key, bucket_ts
      ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY key, bucket_ts
      ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
), bars AS (
  SELECT key, bucket_ts,
    max(CASE WHEN rn_a = 1 THEN v END) AS open,
    max(v) AS high, min(v) AS low,
    max(CASE WHEN rn_d = 1 THEN v END) AS close
  FROM o GROUP BY 1, 2
)
"""


@register("keltner", oracle="""
-- Same grid OHLC bars, same TR/typical windows.
WITH """ + _OHLC_GRID_R14 + """
, lt AS (
  SELECT key, bucket_ts, high, low, close,
    lag(close) OVER w AS pc,
    floor((high + low + close) / 3.0 * 1048576.0) / 1048576.0 AS typ
  FROM bars WINDOW w AS (PARTITION BY key ORDER BY bucket_ts)
), trt AS (
  SELECT key, bucket_ts, typ,
    CASE WHEN pc IS NULL THEN high - low
      ELSE greatest(high - low, abs(high - pc), abs(low - pc))
    END AS tr
  FROM lt
), wnd AS (
  SELECT key, bucket_ts,
    count(typ) OVER f AS cnt, avg(typ) OVER f AS c, avg(tr) OVER f AS a
  FROM trt WINDOW f AS (PARTITION BY key ORDER BY bucket_ts
    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT key, bucket_ts,
  round(CASE WHEN cnt >= 10 THEN c END, 6) AS center,
  round(CASE WHEN cnt >= 10 THEN c + 2.0 * a END, 6) AS upper,
  round(CASE WHEN cnt >= 10 THEN c - 2.0 * a END, 6) AS lower,
  round(CASE WHEN cnt >= 10 THEN a END, 6) AS atr
FROM wnd
""")
def q_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel (10-bar SMA of typical price, 2x SMA of
    Wilder's true range) over per-event-type daily OHLC bars of the
    value stream."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        keltner_channel,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return keltner_channel(
        ev, "event_type", "ts", "value", "event_id",
        bar="1 day", period=10, mult=2.0,
    )


@register("donchian", oracle="""
-- Same grid OHLC bars, trailing extremes, previous-band breakout.
WITH """ + _OHLC_GRID_R14 + """
, wnd AS (
  SELECT key, bucket_ts, close,
    count(high) OVER f AS cnt,
    max(high) OVER f AS u, min(low) OVER f AS l
  FROM bars WINDOW f AS (PARTITION BY key ORDER BY bucket_ts
    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
), pl AS (
  SELECT key, bucket_ts, close,
    CASE WHEN cnt >= 10 THEN u END AS uu,
    CASE WHEN cnt >= 10 THEN l END AS ll,
    lag(CASE WHEN cnt >= 10 THEN u END) OVER w AS pu,
    lag(CASE WHEN cnt >= 10 THEN l END) OVER w AS plo
  FROM wnd WINDOW w AS (PARTITION BY key ORDER BY bucket_ts)
)
SELECT key, bucket_ts, round(uu, 6) AS upper, round(ll, 6) AS lower,
  round((uu + ll) / 2.0, 6) AS mid,
  CAST(CASE WHEN pu IS NOT NULL AND close > pu THEN 1
    WHEN plo IS NOT NULL AND close < plo THEN -1 ELSE 0 END
    AS INTEGER) AS breakout
FROM pl
""")
def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian 10-bar extreme channel with the turtle breakout flag
    (close vs the PREVIOUS bar's bands) over the same daily OHLC
    bars."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        donchian_channel,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return donchian_channel(
        ev, "event_type", "ts", "value", "event_id",
        bar="1 day", period=10,
    )


@register("rolling_beta", oracle="""
-- Same grid daily series, same floored frame products.
WITH per AS (
  SELECT event_type AS k, date_trunc('day', ts) AS d,
    floor(avg(value) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), mkt AS (
  SELECT date_trunc('day', ts) AS d,
    floor(avg(value) * 1048576.0) / 1048576.0 AS m
  FROM events WHERE value IS NOT NULL GROUP BY 1
), src AS (SELECT k, d, v, m FROM per JOIN mkt USING (d)),
wnd AS (
  SELECT k, d,
    count(v) OVER f AS cnt,
    sum(v) OVER f AS sv, sum(m) OVER f AS sm,
    sum(CAST(floor(v * m * 1048576.0) AS BIGINT)) OVER f
      / 1048576.0 AS svm,
    sum(CAST(floor(m * m * 1048576.0) AS BIGINT)) OVER f
      / 1048576.0 AS smm,
    sum(CAST(floor(v * v * 1048576.0) AS BIGINT)) OVER f
      / 1048576.0 AS svv
  FROM src WINDOW f AS (PARTITION BY k ORDER BY d
    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
), fin AS (
  SELECT k, d, cnt,
    svm - sv * sm / cnt AS cov,
    smm - sm * sm / cnt AS varm,
    svv - sv * sv / cnt AS varv
  FROM wnd
)
SELECT k, d,
  round(CASE WHEN cnt >= 10 AND varm > 0 THEN cov / varm END, 6)
    AS beta,
  round(CASE WHEN cnt >= 10 AND varm > 0 AND varv > 0
    THEN cov / sqrt(varm * varv) END, 6) AS corr
FROM fin
""")
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-day rolling beta of each event type's daily mean value
    against the all-events daily mean (the 'market'): exact
    grid-floored frame sums, cov/var closed form."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        rolling_beta,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    g = lambda c: F.floor(c * 1048576.0) / 1048576.0  # noqa: E731
    per = ev.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).agg(g(F.avg("value")).alias("v"))
    mkt = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        g(F.avg("value")).alias("m")
    )
    src = per.join(mkt, "d")
    return rolling_beta(src, "k", "d", "v", "m", period=10).select(
        F.col("k"), F.col("d"), "beta", "corr"
    )


@register("seasonal_strength", oracle="""
-- The seasonal_decomp pipeline composed into Hyndman variance
-- ratios over full-trend rows.
WITH src AS (
  SELECT event_type, ts,
    value + CASE WHEN event_type = 'view'
      THEN 15.0 * (date_part('day', ts) % 7) ELSE 0.0 END AS v
  FROM events
), b AS (
  SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
    avg(v) AS y
  FROM src GROUP BY 1, 2
), t AS (
  SELECT event_type, bucket_ts, y,
    (row_number() OVER w - 1) % 7 AS phase,
    CASE WHEN count(y) OVER f = 7 THEN avg(y) OVER f END AS trend
  FROM b WINDOW
    w AS (PARTITION BY event_type ORDER BY bucket_ts),
    f AS (PARTITION BY event_type ORDER BY bucket_ts
      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), ph AS (
  SELECT event_type, phase, avg(y - trend) AS sraw
  FROM t GROUP BY 1, 2
), ce AS (SELECT event_type, avg(sraw) AS soff FROM ph GROUP BY 1),
se AS (
  SELECT ph.event_type, phase, sraw - soff AS seas
  FROM ph JOIN ce ON ph.event_type = ce.event_type
), dec AS (
  SELECT t.event_type AS key, round(y, 6) AS y6,
    round(trend, 6) AS t6, round(seas, 6) AS s6,
    round(y - trend - seas, 6) AS r6
  FROM t JOIN se ON t.event_type = se.event_type
    AND t.phase = se.phase
  WHERE trend IS NOT NULL
), q AS (
  SELECT key, floor(r6 * 1048576.0) / 1048576.0 AS r,
    floor((y6 - t6) * 1048576.0) / 1048576.0 AS dt,
    floor((y6 - s6) * 1048576.0) / 1048576.0 AS ds
  FROM dec
), m AS (
  SELECT key, count(*) AS n,
    floor(avg(r) * 1048576.0) / 1048576.0 AS mr,
    floor(avg(dt) * 1048576.0) / 1048576.0 AS mdt,
    floor(avg(ds) * 1048576.0) / 1048576.0 AS mds
  FROM q GROUP BY 1
), s AS (
  SELECT q.key, m.n,
    sum(CAST(floor((r - mr) * (r - mr) * 1048576.0) AS BIGINT))
      / 1048576.0 AS vr,
    sum(CAST(floor((dt - mdt) * (dt - mdt) * 1048576.0) AS BIGINT))
      / 1048576.0 AS vdt,
    sum(CAST(floor((ds - mds) * (ds - mds) * 1048576.0) AS BIGINT))
      / 1048576.0 AS vds
  FROM q JOIN m ON q.key = m.key GROUP BY 1, 2
)
SELECT key, CAST(n AS BIGINT) AS n,
  round(CASE WHEN vdt > 0
    THEN greatest(0.0, 1.0 - vr / vdt) END, 6) AS f_seasonal,
  round(CASE WHEN vds > 0
    THEN greatest(0.0, 1.0 - vr / vds) END, 6) AS f_trend
FROM s
""")
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman seasonal/trend strength per event type over the same
    planted-sawtooth series as seasonal_decomp: variance ratios of
    the decomposition's components on full-trend rows only."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        seasonal_strength,
    )

    ev = _ev(spark, sf_dir)
    src = ev.select(
        "event_type",
        "ts",
        (
            F.col("value")
            + F.when(
                F.col("event_type") == "view",
                15.0 * (F.dayofmonth("ts") % 7),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    return seasonal_strength(
        src, "event_type", "ts", "v", bucket="1 day", period=7
    )


def _user_seq_r14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type sequences for the WER entry: ref = the
    type tokens in (ts, event_id) order, cand = every 3rd token
    (positions 0, 3, ...) replaced by the sentinel 'zz' — a bounded
    ~6-word vocabulary so the oracle can replay the word-level edit
    distance through single-byte codes."""
    ev = _ev(spark, sf_dir)
    seq = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.col("event_type").alias("t"))
                )
            ),
            lambda s: s["t"],
        ).alias("toks")
    )
    cand = F.transform(
        F.col("toks"),
        lambda x, i: F.when(i % 3 == 0, F.lit("zz")).otherwise(x),
    )
    return seq.select(
        "u",
        F.concat_ws(" ", cand).alias("cand"),
        F.concat_ws(" ", F.col("toks")).alias("ref"),
    )


@register("wer", oracle="""
-- Word-level edit distance through single-byte codes (the 6-word
-- vocabulary makes byte = codepoint = word distance; any injective
-- code gives the same distance as the Spark BMP encoding).
WITH seq AS (
  SELECT user_id AS u, list(event_type ORDER BY ts, event_id) AS toks
  FROM events GROUP BY 1
), enc AS (
  SELECT u,
    list_aggregate(list_transform(
      range(1, CAST(len(toks) AS INTEGER) + 1),
      i -> CASE WHEN (i - 1) % 3 = 0 THEN 'z' ELSE
        CASE toks[i] WHEN 'click' THEN 'c' WHEN 'signup' THEN 's'
          WHEN 'error' THEN 'e' WHEN 'view' THEN 'v'
          WHEN 'purchase' THEN 'p' ELSE 'x' END END),
      'string_agg', '') AS ce,
    list_aggregate(list_transform(
      range(1, CAST(len(toks) AS INTEGER) + 1),
      i -> CASE toks[i] WHEN 'click' THEN 'c' WHEN 'signup' THEN 's'
        WHEN 'error' THEN 'e' WHEN 'view' THEN 'v'
        WHEN 'purchase' THEN 'p' ELSE 'x' END),
      'string_agg', '') AS re,
    CAST(len(toks) AS BIGINT) AS rl
  FROM seq
), per AS (SELECT levenshtein(ce, re) AS d, rl FROM enc)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(d) AS BIGINT) AS total_edits,
  CAST(sum(rl) AS BIGINT) AS ref_tokens,
  round(CASE WHEN sum(rl) > 0
    THEN CAST(sum(d) AS DOUBLE) / sum(rl) END, 6) AS wer
FROM per
""")
def q_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word error rate of the every-3rd-token-corrupted
    per-user event sequences: word-level Levenshtein via the BMP
    code-point encoding, total edits over total reference tokens."""
    return txt.wer_corpus(
        _user_seq_r14(spark, sf_dir), "cand", "ref", id_col="u"
    )


@register("ngram_compression", oracle="""
-- Same codepoint 4-gram windows, exact counts.
WITH src AS (SELECT doc_id, lower(text) AS s FROM documents),
grams AS (
  SELECT doc_id, substr(s, CAST(i AS INTEGER), 4) AS gram
  FROM (SELECT doc_id, s,
    unnest(range(1, CAST(length(s) AS INTEGER) - 2)) AS i FROM src)
), per AS (
  SELECT doc_id, count(*) AS tot, count(DISTINCT gram) AS dis
  FROM grams GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(p.tot, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(p.dis, 0) AS BIGINT) AS n_distinct,
  round(CASE WHEN p.tot > 0
    THEN CAST(p.dis AS DOUBLE) / p.tot END, 6) AS ratio
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
""")
def q_ngram_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct/total char-4-gram compression proxy per document —
    the SQL-able stand-in for gzip-ratio quality gating."""
    return txt.ngram_compression_ratio(
        _docs(spark, sf_dir), "text", "doc_id", n=4
    )


@register("bpe_pairs", oracle="""
-- Same adjacent pairs, same (cnt desc, pair) deterministic rank.
WITH toks AS (
  SELECT doc_id, list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
    x -> x <> '') AS rt
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(
    range(1, CAST(len(rt) AS INTEGER)),
    i -> {'l': rt[i], 'r': rt[i + 1]})) AS p
  FROM toks
), cnts AS (
  SELECT p.l AS "left", p.r AS "right", count(*) AS cnt
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
), ranked AS (
  SELECT *, row_number() OVER (
    ORDER BY cnt DESC, "left", "right") AS rank
  FROM cnts
)
SELECT CAST(rank AS INTEGER) AS rank, "left", "right",
  CAST(cnt AS BIGINT) AS cnt
FROM ranked WHERE rank <= 20
""")
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token pairs over the documents corpus — the
    candidate table of one BPE merge iteration, ties broken
    deterministically."""
    return txt.bpe_pair_stats(_docs(spark, sf_dir), "text", "doc_id", top_k=20)


@register("pot_gpd", oracle="""
-- Same grid excesses, same MoM xi/beta, same tail closed form.
WITH src AS (
  SELECT floor((CAST(value AS DOUBLE) - 300.0) * 1048576.0)
    / 1048576.0 AS e
  FROM events
), tot AS (
  SELECT count(*) FILTER (e IS NOT NULL) AS n FROM src
), exc AS (SELECT e FROM src WHERE e > 0),
m AS (
  SELECT count(*) AS k, floor(avg(e) * 1048576.0) / 1048576.0 AS mu,
    max(e) AS seen
  FROM exc
), s AS (
  SELECT k, mu, seen,
    CAST(CAST(sum(CAST(floor((e - mu) * (e - mu) * 1048576.0)
      AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS ss
  FROM exc, m GROUP BY 1, 2, 3
), f AS (
  SELECT k, mu, seen,
    CASE WHEN k > 1 THEN ss / (k - 1.0) END AS s2
  FROM s
), g AS (
  SELECT k, mu, seen, s2, mu * mu / s2 AS r FROM f
), h AS (
  SELECT k, mu, seen, s2,
    CASE WHEN s2 > 0 THEN (1.0 - r) / 2.0 END AS xi,
    CASE WHEN s2 > 0 THEN mu * (1.0 + r) / 2.0 END AS beta
  FROM g
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n,
  CAST(k AS BIGINT) AS n_excess,
  round(mu, 6) AS excess_mean,
  round(sqrt(s2), 6) AS excess_sd,
  round(xi, 6) AS xi, round(beta, 6) AS beta,
  round(CASE
    WHEN xi IS NOT NULL AND abs(xi) > 1e-9
        AND 1.0 + xi * seen / beta > 0
      THEN pow(1.0 + xi * seen / beta, -1.0 / xi)
    WHEN xi IS NOT NULL AND abs(xi) <= 1e-9 THEN exp(-seen / beta)
  END, 6) AS p_exceed_seen
FROM h
""")
def q_pot_gpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold GPD tail fit of event values above 300:
    method-of-moments xi/beta on the grid-exact excesses plus the
    fitted exceed-the-seen-max probability — the POT companion to
    the gumbel_fit block-maxima entry."""
    from from_superset_to_clickhouse_spark.operators.stats import pot_gpd

    return pot_gpd(_ev(spark, sf_dir), "value", threshold=300.0)


@register("atkinson", oracle="""
-- Same grid values, same floored ln terms.
WITH src AS (
  SELECT v FROM (
    SELECT floor(CAST(o_totalprice AS DOUBLE) * 1048576.0)
      / 1048576.0 AS v
    FROM orders
  ) WHERE v > 0
), agg AS (
  SELECT count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS m,
    sum(CAST(floor(ln(v) * 1048576.0) AS BIGINT)) / 1048576.0 AS sl
  FROM src
)
SELECT CAST(n AS BIGINT) AS n, round(m, 6) AS mean,
  round(exp(sl / n), 6) AS geo_mean,
  round(CASE WHEN m > 0 THEN 1.0 - exp(sl / n) / m END, 6)
    AS atkinson
FROM agg
""")
def q_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (epsilon = 1) of positive order
    totals — the welfare-weighted companion to the gini and lorenz
    entries, geometric over arithmetic mean."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        atkinson_index,
    )

    return atkinson_index(_t(spark, sf_dir, "orders"), "o_totalprice")


@register("yuen", oracle="""
-- Same order-statistic trim bounds, winsorized clamp, grid sums.
WITH src AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT g, v,
    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
    count(*) OVER (PARTITION BY g) AS n,
    CAST(floor(0.2 * count(*) OVER (PARTITION BY g)) AS BIGINT) AS gt
  FROM src
), lh AS (
  SELECT g,
    max(CASE WHEN rn = gt + 1 THEN v END) AS lo,
    max(CASE WHEN rn = n - gt THEN v END) AS hi
  FROM r GROUP BY 1
), j AS (
  SELECT r.g, r.v, r.rn, r.n, r.gt,
    greatest(least(r.v, lh.hi), lh.lo) AS wv,
    r.rn > r.gt AND r.rn <= r.n - r.gt AS kept
  FROM r JOIN lh ON r.g = lh.g
), sums AS (
  SELECT g, max(n) AS n, max(gt) AS gt,
    floor(sum(CASE WHEN kept THEN v * 1048576.0 END)
      / CAST(max(n) - 2 * max(gt) AS DOUBLE)) / 1048576.0 AS tm,
    floor(avg(wv * 1048576.0)) / 1048576.0 AS wm
  FROM j GROUP BY 1
), ssx AS (
  SELECT j.g,
    CAST(CAST(sum(CAST(floor((j.wv - s.wm) * (j.wv - s.wm)
      * 1048576.0) AS BIGINT)) AS VARCHAR) AS DOUBLE)
      / 1048576.0 AS ssw
  FROM j JOIN sums s ON j.g = s.g GROUP BY 1
), arm AS (
  SELECT s.g, s.n, CAST(s.n - 2 * s.gt AS DOUBLE) AS h, s.tm,
    (s.n - 1.0) * (x.ssw / (s.n - 1.0))
      / (CAST(s.n - 2 * s.gt AS DOUBLE)
        * (CAST(s.n - 2 * s.gt AS DOUBLE) - 1.0)) AS d
  FROM sums s JOIN ssx x ON s.g = x.g
), ab AS (
  SELECT a.n AS na, b.n AS nb, a.h AS ha, b.h AS hb,
    a.tm AS tma, b.tm AS tmb, a.d AS da, b.d AS db
  FROM arm a, arm b WHERE a.g = 'a' AND b.g = 'b'
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  CAST(ha AS BIGINT) AS h_a, CAST(hb AS BIGINT) AS h_b,
  round(tma, 6) AS tmean_a, round(tmb, 6) AS tmean_b,
  round(CASE WHEN da + db > 0
    THEN (tma - tmb) / sqrt(da + db) END, 6) AS t_stat,
  round(CASE WHEN ha > 1 AND hb > 1 AND da + db > 0
    THEN (da + db) * (da + db)
      / (da * da / (ha - 1.0) + db * db / (hb - 1.0)) END, 6)
    AS df_approx
FROM ab
""")
def q_yuen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen 20%-trimmed-mean robust location test between the
    user-parity arms of the event value stream — order-statistic trim
    bounds, winsorized variances, Welch-style df."""
    from from_superset_to_clickhouse_spark.operators.stats import yuen_t

    ev = _ev(spark, sf_dir)
    src = ev.select(
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("arm"),
        F.col("value"),
    )
    return yuen_t(src, "value", "arm", trim=0.2)


@register("imr_chart", oracle="""
-- Same keyed moving ranges, same 2.66 limits, exact out count.
WITH src AS (
  SELECT event_type AS key, ts, event_id,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), lagged AS (
  SELECT key, v,
    abs(v - lag(v) OVER (PARTITION BY key ORDER BY ts, event_id))
      AS mr
  FROM src
), m AS (
  SELECT key, count(*) AS n,
    floor(avg(v) * 1048576.0) / 1048576.0 AS c,
    floor(avg(mr) * 1048576.0) / 1048576.0 AS mrb
  FROM lagged GROUP BY 1
), lim AS (
  SELECT key, n, c, mrb, c + 2.66 * mrb AS u, c - 2.66 * mrb AS l
  FROM m
)
SELECT s.key, CAST(l.n AS BIGINT) AS n, round(l.c, 6) AS center,
  round(l.mrb, 6) AS mr_bar, round(l.u, 6) AS ucl,
  round(l.l, 6) AS lcl,
  CAST(count(*) FILTER (s.v > l.u OR s.v < l.l) AS BIGINT) AS n_out
FROM src s JOIN lim l ON s.key = l.key
GROUP BY 1, 2, 3, 4, 5, 6
""")
def q_imr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart I-MR control summary of the raw value stream per
    event type: center/MR-bar/2.66 limits and the exact out-of-
    control count — the SPC companion to process_capability."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        imr_chart,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return imr_chart(ev, "event_type", "ts", "value", "event_id")


@register("ccf", oracle=(
    """
-- Same daily series, same per-lag pairwise-complete grid moments.
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
    floor(avg(CASE WHEN event_type = 'purchase' THEN value END)
      * 1048576.0) / 1048576.0 AS y,
    floor(avg(CASE WHEN event_type = 'view' THEN value END)
      * 1048576.0) / 1048576.0 AS x
  FROM events GROUP BY 1
), ser AS (
  SELECT d, x, y FROM daily WHERE x IS NOT NULL AND y IS NOT NULL
), lagged AS (
  SELECT d, x, y,
""" + ",\n".join(
        f"    lag(x, {k}) OVER (ORDER BY d) AS x{k}"
        for k in range(1, 6)
    ) + """
  FROM ser
)
""" + "\nUNION ALL\n".join(
        f"""SELECT {k} AS lag, CAST(n AS BIGINT) AS n,
  round(CASE WHEN sxx > 0 AND syy > 0
    THEN sxy / sqrt(sxx * syy) END, 6) AS ccf
FROM (
  SELECT count(*) AS n,
    sum(CAST(floor((xx - mx) * (xx - mx) * 1048576.0) AS BIGINT))
      / 1048576.0 AS sxx,
    sum(CAST(floor((y - my) * (y - my) * 1048576.0) AS BIGINT))
      / 1048576.0 AS syy,
    sum(CAST(floor((xx - mx) * (y - my) * 1048576.0) AS BIGINT))
      / 1048576.0 AS sxy
  FROM (
    SELECT {'x' if k == 0 else f'x{k}'} AS xx, y FROM lagged
    WHERE {'x' if k == 0 else f'x{k}'} IS NOT NULL AND y IS NOT NULL
  ) rows_, (
    SELECT floor(avg({'x' if k == 0 else f'x{k}'}) * 1048576.0)
        / 1048576.0 AS mx,
      floor(avg(y) * 1048576.0) / 1048576.0 AS my
    FROM lagged
    WHERE {'x' if k == 0 else f'x{k}'} IS NOT NULL AND y IS NOT NULL
  ) m
)"""
        for k in range(0, 6)
    ) + "\n"
))
def q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of daily view-mean (driver x) against daily
    purchase-mean (response y) at lags 0-5 — which shift explains the
    purchase series best, the granger companion."""
    from from_superset_to_clickhouse_spark.operators.temporal import ccf

    ev = _ev(spark, sf_dir)
    g = lambda c: F.floor(c * 1048576.0) / 1048576.0  # noqa: E731
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        g(
            F.avg(
                F.when(F.col("event_type") == "purchase", F.col("value"))
            )
        ).alias("y"),
        g(
            F.avg(F.when(F.col("event_type") == "view", F.col("value")))
        ).alias("x"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    return ccf(daily, "d", "x", "y", max_lag=5)


@register("script_profile", oracle="""
-- Same strip-and-diff class counts (explicit whitespace class; both
-- regex engines treat the listed ranges identically).
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
  round(CASE WHEN n > 0 THEN (n - length(regexp_replace(text,
    '[A-Za-z]', '', 'g'))) / CAST(n AS DOUBLE) END, 6) AS latin_frac,
  round(CASE WHEN n > 0 THEN (n - length(regexp_replace(text,
    '[0-9]', '', 'g'))) / CAST(n AS DOUBLE) END, 6) AS digit_frac,
  round(CASE WHEN n > 0 THEN (n - length(regexp_replace(text,
    '[ \t\n\r\f]', '', 'g'))) / CAST(n AS DOUBLE) END, 6)
    AS space_frac,
  round(CASE WHEN n > 0 THEN (n - length(regexp_replace(text,
    '[一-鿿]', '', 'g'))) / CAST(n AS DOUBLE) END, 6) AS cjk_frac,
  round(CASE WHEN n > 0 THEN (n - length(regexp_replace(text,
    '[Ѐ-ӿ]', '', 'g'))) / CAST(n AS DOUBLE) END, 6)
    AS cyrillic_frac,
  round(CASE WHEN n > 0 THEN (n
    - (n - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
    - (n - length(regexp_replace(text, '[0-9]', '', 'g')))
    - (n - length(regexp_replace(text, '[ \t\n\r\f]', '', 'g')))
    - (n - length(regexp_replace(text, '[一-鿿]', '', 'g')))
    - (n - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g'))))
    / CAST(n AS DOUBLE) END, 6) AS other_frac
FROM d
""")
def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script/class census per document (latin/digit/space/
    CJK/cyrillic/other fractions) — the mojibake and script-routing
    gate, pure regexp-strip codegen."""
    return txt.script_profile(_docs(spark, sf_dir), "text", "doc_id")


@register("capture_recapture", oracle="""
-- Same prefix-dup flags, exact Chapman arithmetic.
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
f AS (
  SELECT count(*) OVER (PARTITION BY substr(t, 1, 40)) > 1 AS fa,
    count(*) OVER (PARTITION BY substr(t, 1, 80)) > 1 AS fb
  FROM d
), agg AS (
  SELECT count(*) AS n,
    count(*) FILTER (fa) AS na,
    count(*) FILTER (fb) AS nb,
    count(*) FILTER (fa AND fb) AS m
  FROM f
), c AS (
  SELECT n, na, nb, m,
    CAST(na + 1 AS DOUBLE) * CAST(nb + 1 AS DOUBLE)
      / CAST(m + 1 AS DOUBLE) - 1.0 AS chap
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS n_a,
  CAST(nb AS BIGINT) AS n_b, CAST(m AS BIGINT) AS n_both,
  round(chap, 6) AS chapman,
  round(CASE WHEN chap > 0 THEN na / chap END, 6) AS coverage_a,
  round(CASE WHEN chap > 0 THEN nb / chap END, 6) AS coverage_b
FROM c
""")
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the true duplicate
    population from two prefix-key dup detectors (40-char vs 80-char
    lowercase prefixes) — 'how many dups are BOTH methods missing'."""
    from from_superset_to_clickhouse_spark.operators.text import (
        capture_recapture,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.col("text")).alias("_t")
    )
    wa = Window.partitionBy(F.substring(F.col("_t"), 1, 40))
    wb = Window.partitionBy(F.substring(F.col("_t"), 1, 80))
    flagged = d.select(
        (F.count("*").over(wa) > 1).alias("fa"),
        (F.count("*").over(wb) > 1).alias("fb"),
    )
    return capture_recapture(flagged, "fa", "fb")


@register("p_chart", oracle="""
-- Same daily defect buckets, same binomial limits.
WITH src AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS w,
    CAST(value > 100 AS INTEGER) AS f
  FROM events WHERE value IS NOT NULL
), per AS (
  SELECT key, w, count(*) AS ni, sum(f) AS di
  FROM src GROUP BY 1, 2
), tot AS (
  SELECT key, count(*) AS nb, sum(ni) AS n, sum(di) AS d
  FROM per GROUP BY 1
), lim AS (
  SELECT key, nb, n, CAST(d AS DOUBLE) / n AS pb FROM tot
), j AS (
  SELECT p.key, l.nb, l.n, l.pb,
    CAST(p.di AS DOUBLE) / p.ni AS pi,
    least(l.pb + 3.0 * sqrt(l.pb * (1.0 - l.pb)
      / CAST(p.ni AS DOUBLE)), 1.0) AS ucl,
    greatest(l.pb - 3.0 * sqrt(l.pb * (1.0 - l.pb)
      / CAST(p.ni AS DOUBLE)), 0.0) AS lcl
  FROM per p JOIN lim l ON p.key = l.key
)
SELECT key, CAST(nb AS BIGINT) AS n_buckets,
  CAST(n AS BIGINT) AS n_total, round(pb, 6) AS p_bar,
  CAST(count(*) FILTER (pi > ucl OR pi < lcl) AS BIGINT) AS n_out
FROM j GROUP BY 1, 2, 3, 4
""")
def q_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute p-chart of the daily high-value defect rate
    (value > 100) per event type: binomial 3-sigma limits around the
    pooled rate, exact out-of-control bucket counts."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        p_chart,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    src = ev.select(
        "event_type", "ts", (F.col("value") > 100).alias("defect")
    )
    return p_chart(src, "event_type", "ts", "defect", bucket="1 day")


@register("hampel", oracle="""
-- Same centered 7-point frames, exact order-statistic median/MAD.
WITH src AS (
  SELECT event_type AS key, ts, event_id,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), fr AS (
  SELECT key, v,
    list_sort(list(v) OVER (PARTITION BY key ORDER BY ts, event_id
      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS a
  FROM src
), md AS (
  SELECT key, v, a,
    (a[CAST(floor((len(a) + 1) / 2.0) AS INTEGER)]
      + a[CAST(floor(len(a) / 2.0) AS INTEGER) + 1]) / 2.0 AS med
  FROM fr
), dv AS (
  SELECT key, v, med,
    list_sort(list_transform(a, x -> abs(x - med))) AS da
  FROM md
), mad AS (
  SELECT key, v, med,
    (da[CAST(floor((len(da) + 1) / 2.0) AS INTEGER)]
      + da[CAST(floor(len(da) / 2.0) AS INTEGER) + 1]) / 2.0 AS mad
  FROM dv
)
SELECT key, CAST(count(*) AS BIGINT) AS n,
  CAST(count(*) FILTER (abs(v - med) > 3.0 * 1.4826 * mad)
    AS BIGINT) AS n_flagged,
  round(count(*) FILTER (abs(v - med) > 3.0 * 1.4826 * mad)
    / CAST(count(*) AS DOUBLE), 6) AS flagged_frac
FROM mad GROUP BY 1
""")
def q_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel rolling-median despike census of the raw value stream
    per event type (7-point neighborhoods, 3 robust sigmas) — the
    local-outlier companion to the global mad_outliers entry."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        hampel_outliers,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return hampel_outliers(
        ev, "event_type", "ts", "value", "event_id", window=7, k=3.0
    )


# ---------------------------------------------------------------------------
# Agreement / independence / exact tests.


@register("gwet_ac1", oracle="""
-- Same cell/marginal arithmetic: Pa vs Gwet's Pe = sum pi(1-pi)/(K-1).
WITH src AS (
  SELECT event_type AS a,
    CASE WHEN event_id % 11 = 0 THEN 'error' ELSE event_type END AS b
  FROM events WHERE event_type IS NOT NULL
), cells AS (
  SELECT a, b, count(*) AS o FROM src GROUP BY 1, 2
), ra AS (SELECT a AS k, sum(o) AS ra FROM cells GROUP BY 1),
cb AS (SELECT b AS k, sum(o) AS cb FROM cells GROUP BY 1),
marg AS (
  SELECT coalesce(ra.ra, 0) AS ra, coalesce(cb.cb, 0) AS cb
  FROM ra FULL JOIN cb ON ra.k = cb.k
), tot AS (SELECT sum(ra) AS nn FROM marg),
pe AS (
  SELECT max(nn) AS nn, count(*) AS kk,
    sum(((ra + cb) / (2.0 * nn)) * (1.0 - (ra + cb) / (2.0 * nn)))
      AS pes
  FROM marg, tot
), po AS (
  SELECT coalesce(sum(o), 0) AS agree FROM cells WHERE a = b
)
SELECT CAST(nn AS BIGINT) AS n, CAST(kk AS BIGINT) AS n_categories,
  round(agree / CAST(nn AS DOUBLE), 6) AS p_o,
  round(pes / (kk - 1.0), 6) AS p_e,
  round(CASE WHEN pes / (kk - 1.0) < 1.0
    THEN (agree / CAST(nn AS DOUBLE) - pes / (kk - 1.0))
      / (1.0 - pes / (kk - 1.0)) END, 6) AS ac1
FROM pe, po
""")
def q_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 agreement between the event-type label and a second
    rater that mislabels every 11th event as 'error' — the paradox-
    resistant kappa alternative (stable under skewed marginals)."""
    from from_superset_to_clickhouse_spark.operators.stats import gwet_ac1

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    b = F.when(
        F.pmod(F.col("event_id"), 11) == 0, F.lit("error")
    ).otherwise(F.col("event_type"))
    src = ev.select(F.col("event_type").alias("rater_a"), b.alias("rater_b"))
    return gwet_ac1(src, "rater_a", "rater_b")


@register("dixon_q", oracle="""
-- Same grid daily means, exact order-statistic gaps.
WITH daily AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS d,
    floor(avg(value) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), g AS (
  SELECT grp, count(*) AS n, list_sort(list(v)) AS a
  FROM daily GROUP BY 1
), e AS (
  SELECT grp, n, a[1] AS x1, a[2] AS x2,
    a[len(a)] AS xn, a[len(a) - 1] AS xn1
  FROM g
), q AS (
  SELECT grp, n,
    CASE WHEN n >= 3 AND xn - x1 > 0
      THEN (x2 - x1) / (xn - x1) END AS ql,
    CASE WHEN n >= 3 AND xn - x1 > 0
      THEN (xn - xn1) / (xn - x1) END AS qh
  FROM e
)
SELECT grp, CAST(n AS BIGINT) AS n,
  round(ql, 6) AS q_low, round(qh, 6) AS q_high,
  CAST(ql > 0.29 AS INTEGER) AS low_outlier,
  CAST(qh > 0.29 AS INTEGER) AS high_outlier
FROM q
""")
def q_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q outlier screen on each event type's ~30 daily mean
    values — the small-sample gap/range test (5% critical value at
    n=30) over calendar-bounded series."""
    from from_superset_to_clickhouse_spark.operators.stats import dixon_q

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.avg("value").alias("v"))
    return dixon_q(daily, "event_type", "v", crit=0.29)


@register("g_test", oracle="""
-- Same cells/marginals; G = 2 sum o ln(o/e); Wilson-Hilferty tail.
WITH base AS (
  SELECT event_type AS x, user_id % 4 AS y FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
), cells AS (SELECT x, y, count(*) AS o FROM base GROUP BY 1, 2),
m AS (
  SELECT x, y, o, sum(o) OVER () AS n,
    sum(o) OVER (PARTITION BY x) AS rx,
    sum(o) OVER (PARTITION BY y) AS cy
  FROM cells
), s AS (
  SELECT max(n) AS n, count(DISTINCT x) AS n_rows_x,
    count(DISTINCT y) AS n_cols_y,
    sum(2.0 * o * ln(o / (CAST(rx AS DOUBLE) * cy / n))) AS g
  FROM m
), d AS (SELECT *, (n_rows_x - 1) * (n_cols_y - 1) AS dof FROM s),
zc AS (
  SELECT *, (pow(g / dof, 1.0 / 3.0)
    - (1.0 - 2.0 / (9.0 * dof))) / sqrt(2.0 / (9.0 * dof)) AS z
  FROM d
), et AS (
  SELECT *, abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
  FROM zc
), pv AS (
  SELECT *, (1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0 AS sf
  FROM et
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_rows_x AS BIGINT) AS n_rows_x,
  CAST(n_cols_y AS BIGINT) AS n_cols_y, CAST(dof AS BIGINT) AS dof,
  round(g, 6) AS g_stat,
  round(CASE WHEN z >= 0 THEN sf ELSE 1.0 - sf END, 6) AS p_value
FROM pv
""")
def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence between event
    type and the user-id shard — the additive-decomposition twin of
    the chi2 entry on the same contingency."""
    from from_superset_to_clickhouse_spark.operators.stats import g_test

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    src = ev.select(
        F.col("event_type").alias("x"),
        F.pmod(F.col("user_id"), 4).alias("y"),
    )
    return g_test(src, "x", "y")


@register("fisher_exact", oracle="""
-- Same 2^40 log-grid ratio recurrence, exact integer cumsum/sums.
WITH flags AS (
  SELECT event_type = 'purchase' AS fa, value > 150 AS fb
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
), c AS (
  SELECT count(*) AS n, count(*) FILTER (fa) AS r1,
    count(*) FILTER (fb) AS c1,
    count(*) FILTER (fa AND fb) AS aobs
  FROM flags
), sup AS (
  SELECT n, r1, c1, aobs,
    unnest(range(greatest(0, c1 - (n - r1)),
                 least(r1, c1) + 1)) AS a
  FROM c
), st AS (
  SELECT *, CASE WHEN a = greatest(0, c1 - (n - r1)) THEN 0
    ELSE CAST(floor(ln(CAST(r1 - a + 1 AS DOUBLE))
           * 1099511627776.0) AS BIGINT)
       + CAST(floor(ln(CAST(c1 - a + 1 AS DOUBLE))
           * 1099511627776.0) AS BIGINT)
       - CAST(floor(ln(CAST(a AS DOUBLE)) * 1099511627776.0) AS BIGINT)
       - CAST(floor(ln(CAST(n - r1 - c1 + a AS DOUBLE))
           * 1099511627776.0) AS BIGINT)
    END AS step
  FROM sup
), cum AS (
  SELECT *, sum(step) OVER (ORDER BY a
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnw
  FROM st
), mm AS (SELECT *, max(lnw) OVER () AS m FROM cum),
ob AS (SELECT lnw AS lnobs FROM mm WHERE a = aobs),
pmt AS (
  SELECT mm.*, ob.lnobs,
    CAST(CAST(floor(exp(CAST(lnw - m AS DOUBLE) / 1099511627776.0)
      * 1099511627776.0) AS BIGINT) AS HUGEINT) AS pmv
  FROM mm, ob
), s AS (
  SELECT max(n) AS n, max(r1) AS r1, max(c1) AS c1,
    max(aobs) AS aobs, sum(pmv) AS tot,
    sum(pmv) FILTER (lnw <= lnobs + 109951) AS inc
  FROM pmt
)
SELECT CAST(n AS BIGINT) AS n, CAST(r1 AS BIGINT) AS n_a,
  CAST(c1 AS BIGINT) AS n_b, CAST(aobs AS BIGINT) AS n_both,
  round(CASE WHEN CAST(r1 - aobs AS DOUBLE) * (c1 - aobs) > 0
    THEN CAST(aobs AS DOUBLE) * (n - r1 - c1 + aobs)
      / (CAST(r1 - aobs AS DOUBLE) * (c1 - aobs)) END, 6)
    AS odds_ratio,
  round(CAST(CAST(inc AS VARCHAR) AS DOUBLE)
    / CAST(CAST(tot AS VARCHAR) AS DOUBLE), 6) AS p_two_sided
FROM s
""")
def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test of purchase-vs-rest against the high-value
    flag (value > 150): hypergeometric two-sided p by the order-free
    integer-grid log recurrence — no factorial table, support bounded
    by the rarer margin."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        fisher_exact,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    src = ev.select(
        (F.col("event_type") == "purchase").alias("fa"),
        (F.col("value") > 150).alias("fb"),
    )
    return fisher_exact(src, "fa", "fb")


# ---------------------------------------------------------------------------
# Regression diagnostics / method comparison.


@register("white_test", oracle="""
-- Same grid OLS sums, same integer-exact (x, x^2, e^2/2^12) moments,
-- exact chi2(2) tail exp(-LM/2).
WITH src AS (
  SELECT floor(CAST(l_quantity AS DOUBLE) * 1048576.0) / 1048576.0 AS x,
    floor(CAST(l_extendedprice AS DOUBLE) * 1048576.0)
      / 1048576.0 AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM src
), s1 AS (
  SELECT n, mx, my,
    CAST(CAST(sum(CAST(floor((x - mx) * (x - mx) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((x - mx) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy
  FROM src, m1 GROUP BY 1, 2, 3
), base AS (
  SELECT n, mx, my, CASE WHEN sxx > 0 THEN sxy / sxx END AS b
  FROM s1
), mom AS (
  SELECT
    CAST(CAST(floor(x * 1048576.0) AS BIGINT) AS HUGEINT) AS ix,
    CAST(CAST(floor(x * x * 1048576.0) AS BIGINT) AS HUGEINT) AS iz,
    CAST(CAST(floor(((y - my) - b * (x - mx))
      * ((y - my) - b * (x - mx)) / 4096.0 * 1048576.0) AS BIGINT)
      AS HUGEINT) AS iu
  FROM src, base
), s2 AS (
  SELECT CAST(count(*) AS HUGEINT) AS n2,
    sum(ix) AS sx, sum(iz) AS sz, sum(iu) AS su,
    sum(ix * ix) AS sxx2, sum(iz * iz) AS szz2, sum(iu * iu) AS suu2,
    sum(ix * iz) AS sxz2, sum(ix * iu) AS sxu2, sum(iz * iu) AS szu2
  FROM mom
), cen AS (
  SELECT CAST(CAST(n2 AS VARCHAR) AS DOUBLE) AS nn,
    CAST(CAST(n2 * sxx2 - sx * sx AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(n2 * szz2 - sz * sz AS VARCHAR) AS DOUBLE) AS szz,
    CAST(CAST(n2 * suu2 - su * su AS VARCHAR) AS DOUBLE) AS suu,
    CAST(CAST(n2 * sxz2 - sx * sz AS VARCHAR) AS DOUBLE) AS sxz,
    CAST(CAST(n2 * sxu2 - sx * su AS VARCHAR) AS DOUBLE) AS sxu,
    CAST(CAST(n2 * szu2 - sz * su AS VARCHAR) AS DOUBLE) AS szu
  FROM s2
), lmv AS (
  SELECT nn,
    CASE WHEN sxx * szz - sxz * sxz > 0 AND suu > 0
      THEN nn * (((sxu * sxu * szz - 2.0 * sxu * szu * sxz
        + szu * szu * sxx) / (sxx * szz - sxz * sxz)) / suu)
    END AS lm
  FROM cen
)
SELECT CAST(nn AS BIGINT) AS n, round(lm, 6) AS lm_stat,
  round(exp(-lm / 2.0), 6) AS p_value
FROM lmv
""")
def q_white_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """White's heteroskedasticity test on the price~quantity fit —
    the curvature-sensitive companion to the breusch_pagan entry on
    the same regression (LM = n·R² of e² ~ x + x², exact chi2(2)
    tail)."""
    from from_superset_to_clickhouse_spark.operators.stats import white_test

    li = _t(spark, sf_dir, "lineitem")
    return white_test(li, "l_extendedprice", "l_quantity")


@register("cooks_distance", oracle="""
-- Same grid sums; per-row D_i is IEEE arithmetic of exact inputs.
WITH src AS (
  SELECT floor(CAST(l_quantity AS DOUBLE) * 1048576.0) / 1048576.0 AS x,
    floor(CAST(l_extendedprice AS DOUBLE) * 1048576.0)
      / 1048576.0 AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM src
), s1 AS (
  SELECT n, mx, my,
    CAST(CAST(sum(CAST(floor((x - mx) * (x - mx) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((y - my) * (y - my) * 1048576.0) AS HUGEINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS syy,
    CAST(CAST(sum(CAST(floor((x - mx) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy
  FROM src, m1 GROUP BY 1, 2, 3
), base AS (
  SELECT n, mx, my, sxx,
    CASE WHEN sxx > 0 THEN sxy / sxx END AS b,
    (syy - CASE WHEN sxx > 0 THEN sxy / sxx END * sxy)
      / (CAST(n AS DOUBLE) - 2.0) AS s2
  FROM s1
), per AS (
  SELECT n, s2,
    ((y - my) - b * (x - mx)) AS e,
    1.0 / CAST(n AS DOUBLE) + (x - mx) * (x - mx) / sxx AS h
  FROM src, base
)
SELECT CAST(n AS BIGINT) AS n, round(s2, 6) AS s2,
  round(max(CASE WHEN s2 > 0 THEN (e * e * h)
    / (2.0 * s2 * (1.0 - h) * (1.0 - h)) END), 6) AS max_d,
  CAST(count(*) FILTER (CASE WHEN s2 > 0 THEN (e * e * h)
    / (2.0 * s2 * (1.0 - h) * (1.0 - h)) END
    > 4.0 / CAST(n AS DOUBLE)) AS BIGINT) AS n_above_4n
FROM per GROUP BY 1, 2
""")
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence census of the price~quantity OLS fit:
    max influence and the count of points past the 4/n screen — the
    'could one row bend the model' audit."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cooks_distance,
    )

    li = _t(spark, sf_dir, "lineitem")
    return cooks_distance(li, "l_extendedprice", "l_quantity")


@register("deming", oracle="""
-- Same planted re-measurement, same grid sums, same closed form.
WITH raw AS (
  SELECT value AS x0,
    1.02 * value + CAST(event_id % 7 - 3 AS DOUBLE) AS y0
  FROM events WHERE value IS NOT NULL
), src AS (
  SELECT floor(x0 * 1048576.0) / 1048576.0 AS x,
    floor(y0 * 1048576.0) / 1048576.0 AS y
  FROM raw
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM src
), s1 AS (
  SELECT n, mx, my,
    CAST(CAST(sum(CAST(floor((x - mx) * (x - mx) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((y - my) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS syy,
    CAST(CAST(sum(CAST(floor((x - mx) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy
  FROM src, m1 GROUP BY 1, 2, 3
), fit AS (
  SELECT n, mx, my,
    CASE WHEN sxy <> 0 THEN
      ((syy - 1.0 * sxx) + sqrt((syy - 1.0 * sxx) * (syy - 1.0 * sxx)
        + 4.0 * 1.0 * sxy * sxy)) / (2.0 * sxy)
    END AS b
  FROM s1
)
SELECT CAST(n AS BIGINT) AS n, round(b, 6) AS slope,
  round(my - b * mx, 6) AS intercept
FROM fit
""")
def q_deming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming errors-in-variables fit between the raw event value and
    a planted rescaled+shifted re-measurement (y = 1.02·x + noise) —
    the method-comparison slope OLS would bias toward zero."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        deming_regression,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    y = (
        F.lit(1.02) * F.col("value")
        + (F.pmod(F.col("event_id"), 7) - F.lit(3)).cast("double")
    )
    src = ev.select(F.col("value").alias("x"), y.alias("y"))
    return deming_regression(src, "x", "y", delta=1.0)


@register("lin_ccc", oracle="""
-- Same planted re-measurement; ccc = 2 Sxy / (Sxx + Syy + n (mx-my)^2).
WITH raw AS (
  SELECT value AS x0,
    1.02 * value + CAST(event_id % 7 - 3 AS DOUBLE) AS y0
  FROM events WHERE value IS NOT NULL
), src AS (
  SELECT floor(x0 * 1048576.0) / 1048576.0 AS x,
    floor(y0 * 1048576.0) / 1048576.0 AS y
  FROM raw
), m1 AS (
  SELECT count(*) AS n,
    floor(avg(x) * 1048576.0) / 1048576.0 AS mx,
    floor(avg(y) * 1048576.0) / 1048576.0 AS my
  FROM src
), s1 AS (
  SELECT n, mx, my,
    CAST(CAST(sum(CAST(floor((x - mx) * (x - mx) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxx,
    CAST(CAST(sum(CAST(floor((y - my) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS syy,
    CAST(CAST(sum(CAST(floor((x - mx) * (y - my) * 1048576.0) AS BIGINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS sxy
  FROM src, m1 GROUP BY 1, 2, 3
), v AS (
  SELECT n,
    CASE WHEN sxx + syy
        + CAST(n AS DOUBLE) * (mx - my) * (mx - my) > 0
      THEN 2.0 * sxy / (sxx + syy
        + CAST(n AS DOUBLE) * (mx - my) * (mx - my)) END AS ccc,
    CASE WHEN sxx > 0 AND syy > 0
      THEN sxy / sqrt(sxx * syy) END AS r
  FROM s1
)
SELECT CAST(n AS BIGINT) AS n, round(r, 6) AS r,
  round(ccc, 6) AS ccc,
  round(CASE WHEN r <> 0 THEN ccc / r END, 6) AS c_b
FROM v
""")
def q_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation between the raw event value and
    the same planted re-measurement — precision × accuracy against
    the 45° identity line, the scalar dual of bland_altman."""
    from from_superset_to_clickhouse_spark.operators.stats import lin_ccc

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    y = (
        F.lit(1.02) * F.col("value")
        + (F.pmod(F.col("event_id"), 7) - F.lit(3)).cast("double")
    )
    src = ev.select(F.col("value").alias("x"), y.alias("y"))
    return lin_ccc(src, "x", "y")


# ---------------------------------------------------------------------------
# Distribution distance / scale test / meta-analysis / count control
# chart.


@register("hellinger", oracle="""
-- Same buckets, exact integer cell ratios, BC = sum sqrt(p q).
WITH src AS (
  SELECT event_type AS g,
    least(floor(value / 25.0), 19) AS k
  FROM events WHERE value IS NOT NULL
    AND event_type IN ('purchase', 'click')
), cells AS (
  SELECT k, count(*) FILTER (g = 'purchase') AS ca,
    count(*) FILTER (g = 'click') AS cb
  FROM src GROUP BY 1
), t AS (
  SELECT ca, cb, sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM cells
), agg AS (
  SELECT max(na) AS na, max(nb) AS nb, count(*) AS nk,
    sum(sqrt((ca / CAST(na AS DOUBLE)) * (cb / CAST(nb AS DOUBLE))))
      AS bc0
  FROM t
), v AS (SELECT na, nb, nk, least(bc0, 1.0) AS bc FROM agg)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  CAST(nk AS BIGINT) AS n_buckets, round(bc, 6) AS bc,
  round(sqrt(1.0 - bc), 6) AS hellinger,
  round(CASE WHEN bc > 0 THEN -ln(bc) END, 6) AS bhattacharyya
FROM v
""")
def q_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger + Bhattacharyya distance between the purchase and
    click value histograms (25-unit buckets, capped at 20) — the
    bounded-metric drift gauge next to the jsd entry."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        hellinger_distance,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    src = ev.select(
        "event_type",
        F.least(F.floor(F.col("value") / 25.0), F.lit(19)).alias("bkt"),
    )
    return hellinger_distance(src, "event_type", "purchase", "click", "bkt")


@register("ansari_bradley", oracle="""
-- Same midrank-derived min(r, n+1-r) scores, exact even/odd moments.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), pv AS (
  SELECT v, count(*) AS t,
    count(*) FILTER (g = 'purchase') AS ca
  FROM src GROUP BY 1
), rk AS (
  SELECT v, t, ca,
    coalesce(sum(t) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1.0) / 2.0 AS r,
    sum(t) OVER () AS n
  FROM pv
), sc AS (
  SELECT n, t, ca, least(r, n + 1.0 - r) AS s FROM rk
), agg AS (
  SELECT max(n) AS n, sum(ca) AS n1, sum(t - ca) AS n2,
    sum(ca * s) AS ab
  FROM sc
), mo AS (
  SELECT n, n1, n2, ab,
    CASE WHEN n % 2 = 0 THEN n1 * (n + 2.0) / 4.0
      ELSE n1 * (n + 1.0) * (n + 1.0) / (4.0 * n) END AS mean,
    CASE WHEN n % 2 = 0
      THEN n1 * n2 * (n + 2.0) * (n - 2.0) / (48.0 * (n - 1.0))
      ELSE n1 * n2 * (n + 1.0) * (3.0 + n * n) / (48.0 * n * n)
    END AS var
  FROM agg
), zt AS (
  SELECT n1, n2, ab,
    CASE WHEN var > 0 THEN (ab - mean) / sqrt(var) END AS z
  FROM mo
), et AS (
  SELECT *, abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
  FROM zt
)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
  round(ab, 6) AS ab, round(z, 6) AS z,
  round(2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0), 6)
    AS p_value
FROM et
""")
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari–Bradley rank scale test between purchase and view event
    values — 'same spread?' where mann_whitney asks 'same location?'."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        ansari_bradley,
    )

    ev = _ev(spark, sf_dir)
    return ansari_bradley(ev, "event_type", "purchase", "view", "value")


@register("meta_fixed", oracle="""
-- Same exact integer-grid study effects/SEs, same pooled arithmetic.
WITH stud AS (
  SELECT event_type, count(*) AS n,
    sum(CAST(floor(value * 1048576.0) AS BIGINT)) AS s,
    sum(CAST(CAST(floor(value * 1048576.0) AS BIGINT) AS HUGEINT)
      * CAST(floor(value * 1048576.0) AS BIGINT)) AS ss
  FROM events WHERE value IS NOT NULL GROUP BY 1
), eff AS (
  SELECT event_type,
    (CAST(s AS DOUBLE) / n) / 1048576.0 AS e,
    sqrt((CAST(CAST(CAST(n AS HUGEINT) * ss
        - CAST(s AS HUGEINT) * s AS VARCHAR) AS DOUBLE)
      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
      / CAST(n AS DOUBLE)) / 1048576.0 AS se
  FROM stud
), w AS (
  SELECT e, 1.0 / (se * se) AS wi FROM eff WHERE se > 0
), agg AS (
  SELECT count(*) AS k, sum(wi) AS sw, sum(wi * e) AS swe,
    sum(wi * e * e) AS swee
  FROM w
), v AS (
  SELECT k, swe / sw AS pooled, sqrt(1.0 / sw) AS se,
    (swe / sw) / sqrt(1.0 / sw) AS z,
    swee - swe * swe / sw AS q
  FROM agg
), i2v AS (
  SELECT *, CASE WHEN q > 0
    THEN greatest((q - (k - 1.0)) / q, 0.0) ELSE 0.0 END AS i2
  FROM v
), et AS (
  SELECT *, abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
  FROM i2v
)
SELECT CAST(k AS BIGINT) AS k, round(pooled, 6) AS pooled,
  round(se, 6) AS se, round(z, 6) AS z,
  round(2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0), 6)
    AS p_value,
  round(q, 6) AS q_stat, round(i2, 6) AS i2
FROM et
""")
def q_meta_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis pooling the five event types' mean
    values (exact integer-grid per-study effect and SE), with
    Cochran's Q and I² heterogeneity — 'do the segments agree?'."""
    from from_superset_to_clickhouse_spark.operators.stats import meta_fixed

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    u = F.floor(F.col("value") * F.lit(1048576.0))
    dec = "decimal(38,0)"
    stud = ev.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.sum(u).alias("_s"),
        F.sum(u.cast(dec) * u.cast(dec)).alias("_ss"),
    )
    nn = F.col("_n").cast("double")
    varu = (
        (
            F.col("_n").cast(dec) * F.col("_ss")
            - F.col("_s").cast(dec) * F.col("_s").cast(dec)
        ).cast("double")
        / (nn * (nn - 1.0))
    )
    stud = stud.select(
        "event_type",
        ((F.col("_s").cast("double") / nn) / 1048576.0).alias("e"),
        (F.sqrt(varu / nn) / 1048576.0).alias("se"),
    )
    return meta_fixed(stud, "event_type", "e", "se")


@register("c_chart", oracle="""
-- Same daily count buckets DENSIFIED per key (zero-count periods are
-- real subgroups), same Poisson limits.
WITH per AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS w,
    count(*) AS ci
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
), axis AS (
  SELECT key,
    unnest(generate_series(min(w), max(w), INTERVAL '1 day')) AS w
  FROM per GROUP BY key
), dense AS (
  SELECT a.key, a.w, coalesce(p.ci, 0) AS ci
  FROM axis a LEFT JOIN per p ON a.key = p.key AND a.w = p.w
), tot AS (
  SELECT key, count(*) AS nb, sum(ci) AS c FROM dense GROUP BY 1
), lim AS (
  SELECT key, nb, CAST(c AS DOUBLE) / nb AS cb FROM tot
), j AS (
  SELECT p.key, l.nb, l.cb, CAST(p.ci AS DOUBLE) AS ci,
    l.cb + 3.0 * sqrt(l.cb) AS ucl,
    greatest(l.cb - 3.0 * sqrt(l.cb), 0.0) AS lcl
  FROM dense p JOIN lim l ON p.key = l.key
)
SELECT key, CAST(nb AS BIGINT) AS n_buckets, round(cb, 6) AS c_bar,
  CAST(count(*) FILTER (ci > ucl OR ci < lcl) AS BIGINT) AS n_out
FROM j GROUP BY 1, 2, 3
""")
def q_c_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart c-chart of daily event counts per type: Poisson
    3-sigma limits around the mean daily count, exact out-of-control
    bucket census — the count sibling of the p_chart entry."""
    from from_superset_to_clickhouse_spark.operators.temporal import c_chart

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    return c_chart(ev, "event_type", "ts", bucket="1 day")


# ---------------------------------------------------------------------------
# Finance indicators over the shared per-type daily series.


@register("sortino", oracle="""
-- Same grid returns, exact order-free sums.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), l AS (
  SELECT g, v, lag(v) OVER (PARTITION BY g ORDER BY d) AS pv FROM gq
), r AS (
  SELECT g, CASE WHEN pv > 0
    THEN floor((v - pv) / pv * 1048576.0) / 1048576.0 END AS r
  FROM l
), t AS (SELECT g, r FROM r WHERE r IS NOT NULL),
agg AS (
  SELECT g, count(*) AS n, sum(r) AS se,
    sum(least(r, 0.0) * least(r, 0.0)) AS sd2
  FROM t GROUP BY 1
)
SELECT g, CAST(n AS BIGINT) AS n_returns,
  round(se / n, 6) AS mean_excess,
  round(sqrt(sd2 / n), 6) AS downside_dev,
  round(CASE WHEN sqrt(sd2 / n) > 0
    THEN (se / n) / sqrt(sd2 / n) END, 6) AS sortino
FROM agg
""")
def q_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortino ratio of each type's daily mean-value returns: exact
    grid-quantized returns, downside-only deviation."""
    return tmp.sortino_ratio(
        _daily_series_r12(spark, sf_dir), "g", "d", "v", target=0.0
    )


_MACD_W = (
    "(x, i) -> x * CASE WHEN i = 1 THEN pow({d}, len({l}) - 1) "
    "ELSE ({a}) * pow({d}, len({l}) - i) END"
)


def _ema_list_sql(lst: str, a: str, d: str) -> str:
    """list_sum weighted-fold twin of the unrolled EMA recursion."""
    w = _MACD_W.format(l=lst, a=a, d=d)
    return f"list_sum(list_transform({lst}, {w}))"


@register("macd", oracle="""
-- Same unrolled EMA folds (1-based list index), same left-to-right
-- list_sum adds.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), f AS (
  SELECT g, d, list(v) OVER (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
  FROM gq
), m AS (
  SELECT g, d,
    """ + _ema_list_sql("l", "2.0 / 13.0", "1.0 - 2.0 / 13.0") + """
    - """ + _ema_list_sql("l", "2.0 / 27.0", "1.0 - 2.0 / 27.0") + """
    AS macd
  FROM f
), s AS (
  SELECT g, d, macd, list(macd) OVER (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ml
  FROM m
), fin AS (
  SELECT g, d, macd,
    """ + _ema_list_sql("ml", "2.0 / 10.0", "1.0 - 2.0 / 10.0") + """
    AS sig
  FROM s
)
SELECT g, d, round(macd, 6) AS macd, round(sig, 6) AS signal,
  round(macd - sig, 6) AS histogram
FROM fin
""")
def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) over each type's daily series — full-prefix EMA
    recursion unrolled into bounded left-to-right folds."""
    return tmp.macd(
        _daily_series_r12(spark, sf_dir), "g", "d", "v",
        fast=12, slow=26, signal=9,
    )


@register("stoch_osc", oracle="""
-- Same trailing frames, exact min/max, same warm-up NULLs.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), t AS (
  SELECT g, d, v, count(*) OVER wk AS ck,
    min(v) OVER wk AS lo, max(v) OVER wk AS hi
  FROM gq
  WINDOW wk AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), k AS (
  SELECT g, d, CASE WHEN ck >= 14 AND hi > lo
    THEN 100.0 * (v - lo) / (hi - lo) END AS kv
  FROM t
), dd AS (
  SELECT g, d, kv, CASE WHEN count(kv) OVER wd >= 3
    THEN sum(kv) OVER wd / 3.0 END AS dv
  FROM k
  WINDOW wd AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT g, d, round(kv, 6) AS pct_k, round(dv, 6) AS pct_d FROM dd
""")
def q_stoch_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K(14)/%D(3) over each type's daily
    series — exact window min/max, NULL warm-ups kept."""
    return tmp.stochastic_oscillator(
        _daily_series_r12(spark, sf_dir), "g", "d", "v",
        k_period=14, d_period=3,
    )


@register("obv", oracle="""
-- Same signed-volume accumulator, exact integers.
WITH daily AS (
  SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS d,
    avg(CAST(value AS DOUBLE)) AS v0, count(*) AS vol
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), gq AS (
  SELECT g, d, floor(v0 * 1048576.0) / 1048576.0 AS v, vol FROM daily
), l AS (
  SELECT g, d, v, vol,
    lag(v) OVER (PARTITION BY g ORDER BY d) AS pv
  FROM gq
), s AS (
  SELECT g, d, CASE WHEN pv IS NULL THEN 0
    WHEN v > pv THEN vol WHEN v < pv THEN -vol ELSE 0 END AS sv
  FROM l
)
SELECT g, d, CAST(sum(sv) OVER (PARTITION BY g ORDER BY d
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
FROM s
""")
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over each type's daily series with the daily
    event count as volume — exact signed integer accumulator."""
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.col("event_type").alias("g"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.avg("value").alias("v"), F.count("*").alias("vol"))
    return tmp.obv(daily, "g", "d", "v", "vol")


# ---------------------------------------------------------------------------
# Volatility / complexity / stationarity.


@register("ulcer", oracle="""
-- Same running peak, exact grid-summed squared drawdowns.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), run AS (
  SELECT g, v, max(v) OVER (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM gq
), dd AS (
  SELECT g, CASE WHEN peak > 0
    THEN 100.0 * (1.0 - v / peak) ELSE 0.0 END AS dd
  FROM run
), agg AS (
  SELECT g, count(*) AS n, max(dd) AS mx,
    CAST(sum(CAST(floor(dd * dd * 1048576.0) AS BIGINT)) AS DOUBLE)
      / 1048576.0 AS sq
  FROM dd GROUP BY 1
)
SELECT g, CAST(n AS BIGINT) AS n, round(mx, 6) AS max_dd_pct,
  round(sqrt(sq / n), 6) AS ulcer
FROM agg
""")
def q_ulcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index of each type's daily mean-value curve — RMS
    percentage drawdown from the running peak, the pain-weighted
    companion to max_drawdown."""
    return tmp.ulcer_index(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("garman_klass", oracle="""
-- Same daily OHLC bars ((ts, event_id) open/close order), same
-- 2^40-grid exact term sums.
WITH b AS (
  SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS w,
    ts, event_id, value
  FROM events WHERE value IS NOT NULL
), o AS (
  SELECT *, row_number() OVER (PARTITION BY key, w
      ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY key, w
      ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
), bars AS (
  SELECT key, w, max(CASE WHEN rn_a = 1 THEN value END) AS op,
    max(value) AS hi, min(value) AS lo,
    max(CASE WHEN rn_d = 1 THEN value END) AS cl
  FROM o GROUP BY 1, 2
), ok AS (SELECT * FROM bars WHERE lo > 0 AND op > 0),
term AS (
  SELECT key,
    0.5 * ln(CAST(hi AS DOUBLE) / lo) * ln(CAST(hi AS DOUBLE) / lo)
    - (2.0 * ln(2.0) - 1.0) * ln(CAST(cl AS DOUBLE) / op)
      * ln(CAST(cl AS DOUBLE) / op) AS t
  FROM ok
), agg AS (
  SELECT key, count(*) AS n,
    CAST(sum(CAST(floor(t * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      / 1099511627776.0 AS s
  FROM term GROUP BY 1
)
SELECT key AS event_type, CAST(n AS BIGINT) AS n_bars,
  round(s / n, 8) AS gk_var,
  round(CASE WHEN s / n >= 0 THEN sqrt(s / n) END, 6) AS gk_vol
FROM agg
""")
def q_garman_klass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman–Klass range volatility from daily OHLC bars of the raw
    event value stream (open/close by (ts, event_id) order) — the
    intrabar-range variance estimator."""
    return tmp.garman_klass(
        _ev(spark, sf_dir).filter(F.col("value").isNotNull()),
        "event_type", "ts", "value", "event_id", bar="1 day",
    )


@register("perm_entropy", oracle="""
-- Same strict-comparison pattern codes, exact cell ratios.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), t AS (
  SELECT g, v AS v0,
    lead(v, 1) OVER (PARTITION BY g ORDER BY d) AS v1,
    lead(v, 2) OVER (PARTITION BY g ORDER BY d) AS v2
  FROM gq
), w3 AS (
  SELECT g,
    CAST(v1 > v0 AS INTEGER) * 4 + CAST(v2 > v0 AS INTEGER) * 2
      + CAST(v2 > v1 AS INTEGER) AS c
  FROM t WHERE v2 IS NOT NULL
), cells AS (SELECT g, c, count(*) AS o FROM w3 GROUP BY 1, 2),
sc AS (
  SELECT g, sum(o) OVER (PARTITION BY g) AS n,
    -(o / CAST(sum(o) OVER (PARTITION BY g) AS DOUBLE))
      * ln(o / CAST(sum(o) OVER (PARTITION BY g) AS DOUBLE)) AS h
  FROM cells
)
SELECT g, CAST(n AS BIGINT) AS n_windows,
  CAST(count(*) AS BIGINT) AS n_patterns,
  round(sum(h) / ln(6.0), 6) AS h_norm
FROM sc GROUP BY g, n
""")
def q_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (dim 3) of each type's daily series —
    ordinal-pattern complexity, ~1 for noise-like dynamics."""
    return tmp.permutation_entropy(
        _daily_series_r12(spark, sf_dir), "g", "d", "v"
    )


@register("kpss", oracle="""
-- Same grid demeaning, exact 2^30-grid sums, Bartlett lags 3.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), m AS (
  SELECT g, floor(avg(v) * 1048576.0) / 1048576.0 AS mv,
    count(*) AS n
  FROM gq GROUP BY 1
), t AS (
  SELECT gq.g, gq.d, n, gq.v - mv AS e FROM gq JOIN m ON gq.g = m.g
), s AS (
  SELECT g, d, n, e,
    sum(e) OVER (PARTITION BY g ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp,
    lag(e, 1) OVER (PARTITION BY g ORDER BY d) AS e1,
    lag(e, 2) OVER (PARTITION BY g ORDER BY d) AS e2,
    lag(e, 3) OVER (PARTITION BY g ORDER BY d) AS e3
  FROM t
), agg AS (
  SELECT g, max(n) AS n,
    CAST(sum(CAST(floor(sp * sp * 1073741824.0) AS BIGINT)) AS DOUBLE)
      / 1073741824.0 AS ss2,
    CAST(sum(CAST(floor(e * e * 1073741824.0) AS BIGINT)) AS DOUBLE)
      / 1073741824.0 AS g0,
    CAST(sum(CAST(floor(CASE WHEN e1 IS NOT NULL THEN e * e1 END
      * 1073741824.0) AS BIGINT)) AS DOUBLE) / 1073741824.0 AS g1,
    CAST(sum(CAST(floor(CASE WHEN e2 IS NOT NULL THEN e * e2 END
      * 1073741824.0) AS BIGINT)) AS DOUBLE) / 1073741824.0 AS g2,
    CAST(sum(CAST(floor(CASE WHEN e3 IS NOT NULL THEN e * e3 END
      * 1073741824.0) AS BIGINT)) AS DOUBLE) / 1073741824.0 AS g3
  FROM s GROUP BY 1
), v AS (
  SELECT g, n,
    g0 / n + 2.0 * 0.75 * (g1 / n) + 2.0 * 0.5 * (g2 / n)
      + 2.0 * 0.25 * (g3 / n) AS lrv,
    ss2, CAST(n AS DOUBLE) AS nd
  FROM agg
)
SELECT g, CAST(n AS BIGINT) AS n, round(lrv, 6) AS lrv,
  round(CASE WHEN lrv > 0 THEN ss2 / (nd * nd * lrv) END, 6)
    AS kpss_stat,
  CAST(CASE WHEN lrv > 0 THEN ss2 / (nd * nd * lrv) END
    < 0.463 AS INTEGER) AS stationary
FROM v
""")
def q_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic per type (Bartlett lags 3,
    5% cut 0.463) — the stationary-null mirror of the adf_test entry."""
    return tmp.kpss_test(
        _daily_series_r12(spark, sf_dir), "g", "d", "v", lags=3
    )


# ---------------------------------------------------------------------------
# Record linkage / truss decomposition / spatial autocorrelation.


@register("fellegi_sunter", oracle="""
-- Same prefix blocks, same collision-probability u, same m = 0.95.
WITH d AS (
  SELECT doc_id, lang, source,
    CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
    lower(substr(text, 1, 20)) AS bk
  FROM documents
), n AS (SELECT count(*) AS n FROM d),
ul AS (
  SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS u
  FROM (SELECT lang, count(*) AS c FROM d GROUP BY 1), n
  GROUP BY n
), us AS (
  SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS u
  FROM (SELECT source, count(*) AS c FROM d GROUP BY 1), n
  GROUP BY n
), ub AS (
  SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS u
  FROM (SELECT len_bucket, count(*) AS c FROM d GROUP BY 1), n
  GROUP BY n
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM d a JOIN d b ON a.bk = b.bk AND a.doc_id < b.doc_id
), p AS (
  SELECT c.id_a, c.id_b,
    (ra.lang IS NOT DISTINCT FROM rb.lang) AS agl,
    (ra.source IS NOT DISTINCT FROM rb.source) AS ags,
    (ra.len_bucket IS NOT DISTINCT FROM rb.len_bucket) AS agb
  FROM cand c
  JOIN d ra ON c.id_a = ra.doc_id
  JOIN d rb ON c.id_b = rb.doc_id
)
SELECT id_a, id_b,
  CAST(CAST(agl AS INTEGER) + CAST(ags AS INTEGER)
    + CAST(agb AS INTEGER) AS INTEGER) AS n_agree,
  round(
    (0.0 + CASE WHEN agl THEN ln(0.95 / ul.u)
      ELSE ln(0.05 / (1.0 - ul.u)) END)
    + CASE WHEN ags THEN ln(0.95 / us.u)
      ELSE ln(0.05 / (1.0 - us.u)) END
    + CASE WHEN agb THEN ln(0.95 / ub.u)
      ELSE ln(0.05 / (1.0 - ub.u)) END, 6) AS score
FROM p, ul, us, ub
ORDER BY id_a, id_b
""")
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter linkage scores over prefix-blocked document
    pairs: per-field log likelihood ratios with u estimated from the
    data's own collision probabilities (lang, source, length bucket),
    m = 0.95 prior — agreement on rare values scores highest."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        fellegi_sunter,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).alias("len_bucket"),
        F.lower(F.substring(F.col("text"), 1, 20)).alias("_bk"),
    )
    blocks = d.select("doc_id", "_bk")
    cand = (
        blocks.select(F.col("doc_id").alias("id_a"), "_bk")
        .join(
            blocks.select(F.col("doc_id").alias("id_b"), "_bk"), "_bk"
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return fellegi_sunter(
        d.drop("_bk"), cand, "doc_id",
        ["lang", "source", "len_bucket"], m=0.95,
    ).orderBy("id_a", "id_b")


def _truss_round_sql(prev: str, cur: str) -> str:
    """One support-count + filter round of the unrolled truss peel."""
    return f"""
s{cur} AS MATERIALIZED (
  SELECT e.a, e.b, coalesce(t.c, 0) AS sup
  FROM {prev} e LEFT JOIN (
    SELECT a, b, count(*) AS c FROM (
      SELECT unnest([
          {{'a': e1.a, 'b': e1.b}},
          {{'a': e1.b, 'b': e2.b}},
          {{'a': e1.a, 'b': e2.b}}
        ], recursive := true)
      FROM {prev} e1
      JOIN {prev} e2 ON e1.b = e2.a
      JOIN {prev} e3 ON e1.a = e3.a AND e2.b = e3.b
    ) GROUP BY a, b
  ) t ON e.a = t.a AND e.b = t.b
),
e{cur} AS MATERIALIZED (
  SELECT a, b FROM s{cur} WHERE sup >= 2
)"""


@register("k_truss", oracle=(
    """
-- Support peel unrolled 4 rounds (fixture converges in 2; the peel
-- is idempotent past fixpoint), same a<b<c triangle listing.
WITH d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 300 AS s, (doc_id * 11 + 1) % 300 AS t FROM d
  UNION ALL
  SELECT doc_id % 300, (doc_id * 17 + 2) % 300 FROM d
  UNION ALL
  SELECT doc_id % 20, (doc_id // 20) % 20 FROM d WHERE doc_id < 400
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM raw
  WHERE least(s, t) < greatest(s, t)
),""" + ",".join(
        _truss_round_sql(f"e{i}", str(i + 1)) for i in range(4)
    ) + """
SELECT a, b, CAST(sup AS BIGINT) AS support
FROM s4 WHERE sup >= 2
"""
))
def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the skewed test graph (every edge must close ≥ 2
    triangles): support peeling strips the sparse mod-arithmetic
    periphery in 2 rounds, leaving the K20 core's 190 edges at
    support 18 — the community-core extractor that also drops the
    bridge edges kcore keeps."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    return gr.k_truss(_kcore_edges(spark, sf_dir), k=4)


@register("morans_i", oracle="""
-- Same cells, same planted gradient, same rook join, exact sums.
WITH cells AS (
  SELECT user_id % 12 AS i, floor(user_id / 12) % 12 AS j,
    avg(CAST(value AS DOUBLE)) AS a
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), src AS (
  SELECT i, j,
    floor((a + 2.0 * CAST(i + j AS DOUBLE)) * 1048576.0)
      / 1048576.0 AS v
  FROM cells
), m AS (
  SELECT floor(avg(v) * 1048576.0) / 1048576.0 AS mv, count(*) AS n
  FROM src
), z AS (
  SELECT i, j, n, v - mv AS z FROM src, m
), adj AS (
  SELECT count(*) AS np,
    CAST(sum(CAST(floor(zl * zr * 1099511627776.0) AS BIGINT))
      AS DOUBLE) / 1099511627776.0 AS cx
  FROM (
    SELECT l.z AS zl, r.z AS zr
    FROM z l JOIN z r ON r.i = l.i + 1 AND r.j = l.j
    UNION ALL
    SELECT l.z, r.z
    FROM z l JOIN z r ON r.i = l.i AND r.j = l.j + 1
  )
), den AS (
  SELECT max(n) AS n,
    CAST(sum(CAST(floor(z * z * 1099511627776.0) AS BIGINT))
      AS DOUBLE) / 1099511627776.0 AS zz
  FROM z
)
SELECT CAST(n AS BIGINT) AS n_cells,
  CAST(2 * np AS BIGINT) AS w_sum,
  round(CASE WHEN zz > 0 AND np > 0
    THEN (CAST(n AS DOUBLE) / (2.0 * np)) * (2.0 * cx / zz) END, 6)
    AS morans_i,
  round(-1.0 / (CAST(n AS DOUBLE) - 1.0), 6) AS expected_i
FROM den, adj
""")
def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I over a 12×12 user-grid with a planted smooth
    gradient (cell mean value + 2·(i+j)) — rook adjacency, exact
    grid sums; the gradient forces strong positive spatial
    autocorrelation against E[I] = −1/(n−1)."""
    from from_superset_to_clickhouse_spark.operators.geo import (
        morans_i_grid,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    cells = ev.groupBy(
        F.pmod(F.col("user_id"), 12).alias("i"),
        F.pmod(F.floor(F.col("user_id") / 12), 12).alias("j"),
    ).agg(F.avg("value").alias("_a"))
    cells = cells.select(
        "i",
        "j",
        (
            F.col("_a") + 2.0 * (F.col("i") + F.col("j")).cast("double")
        ).alias("v"),
    )
    return morans_i_grid(cells, "i", "j", "v")


# ---------------------------------------------------------------------------
# Effect sizes / distribution tests / p-value pooling.


@register("vargha_delaney", oracle="""
-- Same pooled midranks, exact 0.5-grid sums.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), pv AS (
  SELECT v, count(*) AS t,
    count(*) FILTER (g = 'purchase') AS ca
  FROM src GROUP BY 1
), rk AS (
  SELECT v, t, ca,
    coalesce(sum(t) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1.0) / 2.0 AS r
  FROM pv
), agg AS (
  SELECT sum(ca) AS n1, sum(t - ca) AS n2, sum(ca * r) AS r1
  FROM rk
)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
  round(CASE WHEN n1 > 0 AND n2 > 0 THEN
    (r1 / CAST(n1 AS DOUBLE) - (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
    / CAST(n2 AS DOUBLE) END, 6) AS a12
FROM agg
""")
def q_vargha_delaney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vargha–Delaney A between purchase and view event values — the
    U/(n1·n2) win-probability effect size next to mann_whitney."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        vargha_delaney_a,
    )

    ev = _ev(spark, sf_dir)
    return vargha_delaney_a(ev, "event_type", "purchase", "view", "value")


@register("cvm", oracle="""
-- Same midranks + within-sample positions, Anderson's rank form.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
), pv AS (
  SELECT g, v, count(*) AS cnt FROM src GROUP BY 1, 2
), tot AS (
  SELECT v, sum(cnt) AS t FROM pv GROUP BY 1
), rk AS (
  SELECT v, t,
    coalesce(sum(t) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + (t + 1.0) / 2.0 AS r
  FROM tot
), rows_g AS (
  SELECT g, v,
    row_number() OVER (PARTITION BY g ORDER BY v) AS i
  FROM (SELECT g, unnest(generate_series(1, CAST(cnt AS INTEGER))),
          v FROM pv)
), j AS (
  SELECT rg.g, (rk.r - rg.i) * (rk.r - rg.i) AS d2
  FROM rows_g rg JOIN rk ON rg.v = rk.v
), agg AS (
  SELECT count(*) FILTER (g = 'purchase') AS n,
    count(*) FILTER (g = 'click') AS m,
    sum(d2) FILTER (g = 'purchase') AS ua,
    sum(d2) FILTER (g = 'click') AS ub
  FROM j
), tv AS (
  SELECT n, m,
    CASE WHEN n > 0 AND m > 0 THEN
      (CAST(n AS DOUBLE) * ua + CAST(m AS DOUBLE) * ub)
        / (CAST(n AS DOUBLE) * m * (n + m))
      - (4.0 * CAST(n AS DOUBLE) * m - 1.0) / (6.0 * (n + m))
    END AS t
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
  round(t, 6) AS t_stat,
  CAST(t > 0.461 AS INTEGER) AS reject_5pct
FROM tv
""")
def q_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises criterion between purchase and
    click values — integrated squared ECDF gap, rank form."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        cvm_two_sample,
    )

    ev = _ev(spark, sf_dir)
    return cvm_two_sample(ev, "event_type", "purchase", "click", "value")


@register("dagostino_k2", oracle="""
-- Same grid moments (2^-20 for m2, 2^-10 for m3/m4), identical
-- transform arithmetic, exact chi2(2) tail; same m2 >= 1/4 scale
-- guard (coarse-grid bias dominates sub-unit-variance data).
WITH src AS (
  SELECT floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT floor(avg(v) * 1048576.0) / 1048576.0 AS mv, count(*) AS n
  FROM src
), agg AS (
  SELECT max(n) AS n,
    CAST(CAST(sum(CAST(CAST(floor((v - mv) * (v - mv) * 1048576.0)
      AS BIGINT) AS HUGEINT)) AS VARCHAR) AS DOUBLE)
      / 1048576.0 AS s2,
    CAST(CAST(sum(CAST(CAST(floor((v - mv) * (v - mv) * (v - mv)
      * 1024.0) AS BIGINT) AS HUGEINT)) AS VARCHAR) AS DOUBLE)
      / 1024.0 AS s3,
    CAST(CAST(sum(CAST(CAST(floor((v - mv) * (v - mv) * (v - mv)
      * (v - mv) * 1024.0) AS BIGINT) AS HUGEINT)) AS VARCHAR)
      AS DOUBLE) / 1024.0 AS s4
  FROM src, m
), mom AS (
  SELECT CAST(n AS DOUBLE) AS n, n AS ni,
    s2 / n AS m2, s3 / n AS m3, s4 / n AS m4
  FROM agg
), gg AS (
  SELECT n, ni, m2,
    m3 / pow(m2, 1.5) AS g1, m4 / (m2 * m2) AS g2
  FROM mom
), z1c AS (
  SELECT *,
    g1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS y,
    -1.0 + sqrt(2.0 * (3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0)
      * (n + 3.0) / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
      - 1.0)) AS w2
  FROM gg
), z1v AS (
  SELECT *,
    (1.0 / sqrt(ln(sqrt(w2))))
      * ln(y / sqrt(2.0 / (w2 - 1.0))
        + sqrt((y / sqrt(2.0 / (w2 - 1.0)))
          * (y / sqrt(2.0 / (w2 - 1.0))) + 1.0)) AS z1
  FROM z1c
), z2c AS (
  SELECT *,
    (g2 - 3.0 * (n - 1.0) / (n + 1.0))
      / sqrt(24.0 * n * (n - 2.0) * (n - 3.0)
        / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))) AS x,
    6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))
      * sqrt(6.0 * (n + 3.0) * (n + 5.0)
        / (n * (n - 2.0) * (n - 3.0))) AS sb1
  FROM z1v
), z2v AS (
  SELECT *, 6.0 + 8.0 / sb1 * (2.0 / sb1
    + sqrt(1.0 + 4.0 / (sb1 * sb1))) AS aa
  FROM z2c
), z2w AS (
  SELECT *,
    ((1.0 - 2.0 / (9.0 * aa))
      - pow((1.0 - 2.0 / aa)
        / (1.0 + x * sqrt(2.0 / (aa - 4.0))), 1.0 / 3.0))
      / sqrt(2.0 / (9.0 * aa)) AS z2
  FROM z2v
), fin AS (
  SELECT ni, m2, g1, g2, z1, z2, z1 * z1 + z2 * z2 AS k2,
    (ni > 20 AND m2 >= 0.25) AS ok
  FROM z2w
)
SELECT CAST(ni AS BIGINT) AS n,
  round(CASE WHEN m2 >= 0.25 THEN g1 END, 6) AS skew,
  round(CASE WHEN m2 >= 0.25 THEN g2 END, 6) AS kurtosis,
  round(CASE WHEN ok THEN z1 END, 6) AS z_skew,
  round(CASE WHEN ok THEN z2 END, 6) AS z_kurt,
  round(CASE WHEN ok THEN k2 END, 6) AS k2,
  round(CASE WHEN ok THEN exp(-k2 / 2.0) END, 6) AS p_value
FROM fin
""")
def q_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino–Pearson K² omnibus normality test on the raw event
    values (clearly non-normal — the test must fire) — transformed
    skew/kurtosis z's from exact grid moments."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        dagostino_k2,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return dagostino_k2(ev, "value")


@register("fisher_combine", oracle="""
-- Same exact-count proportion z per type, same erf-polynomial p,
-- Wilson-Hilferty chi2(2k) tail.
WITH arms AS (
  SELECT event_type,
    count(*) FILTER (user_id % 2 = 0) AS na,
    count(*) FILTER (user_id % 2 = 0 AND value > 100) AS xa,
    count(*) FILTER (user_id % 2 = 1) AS nb,
    count(*) FILTER (user_id % 2 = 1 AND value > 100) AS xb
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1
), zt AS (
  SELECT
    (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
    / sqrt((CAST(xa + xb AS DOUBLE) / (CAST(na AS DOUBLE) + nb))
      * (1.0 - CAST(xa + xb AS DOUBLE) / (CAST(na AS DOUBLE) + nb))
      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) AS z
  FROM arms
), et AS (
  SELECT abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
  FROM zt
), pv AS (
  SELECT 2.0 * ((1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0) AS p
  FROM et
), f AS (
  SELECT count(*) AS k, sum(-2.0 * ln(p)) AS x2
  FROM pv WHERE p > 0 AND p <= 1
), zc AS (
  SELECT k, x2, k * 2 AS dof,
    (pow(x2 / (k * 2.0), 1.0 / 3.0)
      - (1.0 - 2.0 / (9.0 * (k * 2.0))))
      / sqrt(2.0 / (9.0 * (k * 2.0))) AS z
  FROM f
), et2 AS (
  SELECT *, abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
  FROM zc
), sf AS (
  SELECT *, (1.0 - (1.0 - (0.254829592 * t - 0.284496736 * t * t
    + 1.421413741 * t * t * t - 1.453152027 * t * t * t * t
    + 1.061405429 * t * t * t * t * t) * exp(-(xx * xx)))) / 2.0
    AS sfv
  FROM et2
)
SELECT CAST(k AS BIGINT) AS k, round(x2, 6) AS x2,
  CAST(dof AS BIGINT) AS dof,
  round(CASE WHEN k > 0 THEN
    CASE WHEN z >= 0 THEN sfv ELSE 1.0 - sfv END END, 6) AS p_value
FROM sf
""")
def q_fisher_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's combined test over the five per-type A/B proportion
    z-tests (user parity arms, high-value outcome) — 'any effect
    anywhere' from exact-count per-segment p-values."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        fisher_combine,
        normal_sf,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    arms = ev.groupBy("event_type").agg(
        F.count(F.when(F.pmod(F.col("user_id"), 2) == 0, 1)).alias("_na"),
        F.count(
            F.when((F.pmod(F.col("user_id"), 2) == 0)
                   & (F.col("value") > 100), 1)
        ).alias("_xa"),
        F.count(F.when(F.pmod(F.col("user_id"), 2) == 1, 1)).alias("_nb"),
        F.count(
            F.when((F.pmod(F.col("user_id"), 2) == 1)
                   & (F.col("value") > 100), 1)
        ).alias("_xb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    pa = F.col("_xa").cast("double") / na
    pb = F.col("_xb").cast("double") / nb
    pp = (F.col("_xa") + F.col("_xb")).cast("double") / (na + nb)
    z = (pa - pb) / F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    pv = arms.select(
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p")
    )
    return fisher_combine(pv, "p")


# ---------------------------------------------------------------------------
# Survival summaries / inequality tails.


@register("rmst", oracle="""
-- Same KM curve, same capped step-segment integral.
WITH curve AS (""" + _KAPLAN_MEIER_SQL + """),
seg AS (
  SELECT CAST(t_days AS DOUBLE) AS t, survival,
    coalesce(CAST(lead(t_days) OVER (ORDER BY t_days) AS DOUBLE),
             30.0) AS nxt
  FROM curve
), agg AS (
  SELECT least(min(t), 30.0) AS head,
    sum(survival * greatest(least(nxt, 30.0) - least(t, 30.0), 0.0))
      AS tail
  FROM seg
)
SELECT 30.0 AS tau, round(head + tail, 6) AS rmst FROM agg
""")
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (τ = 30 days) under the customer
    KM retention curve — 'average active days in the first month',
    the non-proportional-hazards summary beside kaplan_meier."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        kaplan_meier,
        rmst_from_curve,
    )

    curve = kaplan_meier(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        censor_horizon_days=60,
    )
    return rmst_from_curve(curve, "t_days", "survival", tau=30.0)


@register("survival_quartiles", oracle="""
-- Same KM curve, earliest level crossings.
WITH curve AS (""" + _KAPLAN_MEIER_SQL + """)
SELECT min(t_days) FILTER (survival <= 0.75) AS q25_t,
  min(t_days) FILTER (survival <= 0.50) AS median_t,
  min(t_days) FILTER (survival <= 0.25) AS q75_t
FROM curve
""")
def q_survival_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile survival times off the same KM retention curve — the
    earliest days at which 25/50/75% of customers have churned (NULL
    where the curve never reaches the level)."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        kaplan_meier,
        survival_quartiles,
    )

    curve = kaplan_meier(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        censor_horizon_days=60,
    )
    return survival_quartiles(curve, "t_days", "survival")


@register("palma", oracle="""
-- Same distinct-value exact tie-splitting cuts, decimal value mass.
WITH src AS (
  SELECT floor(CAST(o_totalprice AS DOUBLE) * 1048576.0)
    / 1048576.0 AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), pv AS (SELECT v, count(*) AS c FROM src GROUP BY 1),
t AS (
  SELECT v, c,
    coalesce(sum(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca,
    coalesce(sum(c) OVER (ORDER BY v DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cd,
    sum(c) OVER () AS n
  FROM pv
), taken AS (
  SELECT n, v, c,
    greatest(least(n * 4 // 10 - ca, c), 0) AS tb,
    greatest(least(n // 10 - cd, c), 0) AS tt
  FROM t
), agg AS (
  SELECT n,
    CAST(CAST(sum(CAST(CAST(floor(v * 1048576.0) AS BIGINT)
      AS HUGEINT) * tb) AS VARCHAR) AS DOUBLE) / 1048576.0 AS b,
    CAST(CAST(sum(CAST(CAST(floor(v * 1048576.0) AS BIGINT)
      AS HUGEINT) * tt) AS VARCHAR) AS DOUBLE) / 1048576.0 AS tp,
    CAST(CAST(sum(CAST(CAST(floor(v * 1048576.0) AS BIGINT)
      AS HUGEINT) * c) AS VARCHAR) AS DOUBLE) / 1048576.0 AS tot
  FROM taken GROUP BY 1
)
SELECT CAST(n AS BIGINT) AS n,
  round(CASE WHEN tot <> 0 THEN b / tot END, 6) AS bottom40_share,
  round(CASE WHEN tot <> 0 THEN tp / tot END, 6) AS top10_share,
  round(CASE WHEN tot <> 0 AND b / tot > 0
    THEN (tp / tot) / (b / tot) END, 6) AS palma
FROM agg
""")
def q_palma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio of the order-value distribution: top-10% share
    over bottom-40% share by exact order-statistic cuts — the
    tail-focused inequality summary next to the gini/lorenz entries."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        palma_ratio,
    )

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    return palma_ratio(o, "o_totalprice")


@register("hoover", oracle="""
-- Same grid mean, decimal-exact deviation and total sums.
WITH src AS (
  SELECT floor(CAST(o_totalprice AS DOUBLE) * 1048576.0)
    / 1048576.0 AS v
  FROM orders WHERE o_totalprice IS NOT NULL
), m AS (
  SELECT floor(avg(v) * 1048576.0) / 1048576.0 AS mv, count(*) AS n
  FROM src
), agg AS (
  SELECT max(n) AS n,
    CAST(CAST(sum(CAST(floor(abs(v - mv) * 1048576.0) AS HUGEINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS dev,
    CAST(CAST(sum(CAST(floor(v * 1048576.0) AS HUGEINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS tot
  FROM src, m
)
SELECT CAST(n AS BIGINT) AS n,
  round(CASE WHEN tot <> 0 THEN 0.5 * dev / tot END, 6) AS hoover
FROM agg
""")
def q_hoover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin Hood) index of the order-value distribution —
    the share of total spend that would have to move to equalize
    customers' orders."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        hoover_index,
    )

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    return hoover_index(o, "o_totalprice")


# ---------------------------------------------------------------------------
# Market microstructure / flow indicators / forecast bias.


def _daily_ohlc_r16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars of the raw event value per type — the shared
    base for the cci/mfi queue entries (same one-pass min_by/max_by
    aggregate the keltner/donchian entries ride)."""
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return tmp.ohlc_bars(ev, "event_type", "ts", "value", "event_id",
                         bar="1 day")


_DAILY_OHLC_R16_SQL = """
  SELECT key AS g, w AS d,
    max(CASE WHEN rn_a = 1 THEN value END) AS op,
    max(value) AS hi, min(value) AS lo,
    max(CASE WHEN rn_d = 1 THEN value END) AS cl,
    count(*) AS vol
  FROM (
    SELECT event_type AS key, time_bucket(INTERVAL '1 day', ts) AS w,
      ts, event_id, value,
      row_number() OVER (PARTITION BY event_type,
        time_bucket(INTERVAL '1 day', ts)
        ORDER BY ts, event_id) AS rn_a,
      row_number() OVER (PARTITION BY event_type,
        time_bucket(INTERVAL '1 day', ts)
        ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events WHERE value IS NOT NULL
  ) GROUP BY 1, 2
"""


@register("amihud", oracle="""
-- Same grid returns / integer volumes, decimal-exact term sums.
WITH daily AS (
  SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS d,
    avg(CAST(value AS DOUBLE)) AS v0, count(*) AS vol
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), gq AS (
  SELECT g, d, floor(v0 * 1048576.0) / 1048576.0 AS v,
    CAST(vol AS DOUBLE) AS vol
  FROM daily
), l AS (
  SELECT g, v, vol, lag(v) OVER (PARTITION BY g ORDER BY d) AS pv
  FROM gq
), r AS (
  SELECT g, CASE WHEN pv > 0
    THEN floor(abs(v - pv) / pv * 1048576.0) / 1048576.0 END AS r,
    vol
  FROM l
), t AS (SELECT g, r / vol * 1000000.0 AS term FROM r
         WHERE r IS NOT NULL),
agg AS (
  SELECT g, count(*) AS n,
    CAST(sum(CAST(floor(term * 1048576.0) AS BIGINT)) AS DOUBLE)
      / 1048576.0 AS s
  FROM t GROUP BY 1
)
SELECT g, CAST(n AS BIGINT) AS n,
  round(s / n, 6) AS amihud_x1m
FROM agg
""")
def q_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity (×1e6) of each type's daily mean-value
    series with the daily event count as volume — price impact per
    unit of flow."""
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.col("event_type").alias("g"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.avg("value").alias("v"), F.count("*").alias("vol"))
    return tmp.amihud_illiquidity(daily, "g", "d", "v", "vol")


@register("cci", oracle="""
-- Same daily bars, same one-frame SMA + window-own mean deviation.
WITH bars AS (""" + _DAILY_OHLC_R16_SQL + """),
tp AS (
  SELECT g, d,
    floor(((hi + lo + cl) / 3.0) * 1048576.0) / 1048576.0 AS v
  FROM bars
), f AS (
  SELECT g, d, list(v) OVER (PARTITION BY g ORDER BY d
    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
  FROM tp
), s AS (
  SELECT g, d, l, list_sum(l) / len(l) AS sma FROM f
), m AS (
  SELECT g, d, l, sma,
    list_sum(list_transform(l, x -> abs(x - sma))) / len(l) AS md
  FROM s
)
SELECT g, d,
  round(CASE WHEN len(l) >= 20 AND md > 0
    THEN (l[len(l)] - sma) / (0.015 * md) END, 6) AS cci
FROM m
""")
def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCI(20) over the daily typical price ((H+L+C)/3 of the raw
    value bars) per type — window-mean deviation oscillator with the
    window's own SMA as the reference."""
    bars = _daily_ohlc_r16(spark, sf_dir).select(
        F.col("event_type").alias("g"),
        F.col("bar_start").alias("d"),
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias(
            "tp"
        ),
    )
    return tmp.cci(bars, "g", "d", "tp", period=20)


@register("mfi", oracle="""
-- Same daily bars, exact grid flows, window-ordered sums.
WITH bars AS (""" + _DAILY_OHLC_R16_SQL + """),
tp AS (
  SELECT g, d,
    floor(((hi + lo + cl) / 3.0) * 1048576.0) / 1048576.0 AS v,
    vol
  FROM bars
), l AS (
  SELECT g, d, v, vol,
    lag(v) OVER (PARTITION BY g ORDER BY d) AS pv
  FROM tp
), fl AS (
  SELECT g, d,
    CASE WHEN pv IS NOT NULL AND v > pv THEN v * vol
      WHEN pv IS NOT NULL THEN 0.0 END AS p,
    CASE WHEN pv IS NOT NULL AND v < pv THEN v * vol
      WHEN pv IS NOT NULL THEN 0.0 END AS m
  FROM l
), wsum AS (
  SELECT g, d,
    count(p) OVER wf AS cnt,
    sum(p) OVER wf AS sp, sum(m) OVER wf AS sn
  FROM fl
  WINDOW wf AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT g, d,
  round(CASE WHEN cnt >= 14 THEN
    CASE WHEN sn > 0 THEN 100.0 - 100.0 / (1.0 + sp / sn)
      WHEN sp > 0 THEN 100.0 ELSE 50.0 END END, 6) AS mfi
FROM wsum
""")
def q_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFI(14) — the volume-weighted RSI — over the same daily
    typical-price bars with bar volume = event count."""
    bars = _daily_ohlc_r16(spark, sf_dir).select(
        F.col("event_type").alias("g"),
        F.col("bar_start").alias("d"),
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias(
            "tp"
        ),
        F.col("volume").alias("vol"),
    )
    return tmp.mfi(bars, "g", "d", "tp", "vol", period=14)


@register("tracking_signal", oracle="""
-- Same grid naive errors, exact sums.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), l AS (
  SELECT g, v - lag(v) OVER (PARTITION BY g ORDER BY d) AS e FROM gq
), t AS (SELECT g, e FROM l WHERE e IS NOT NULL),
agg AS (
  SELECT g, count(*) AS n, sum(e) AS ce, sum(abs(e)) AS sae
  FROM t GROUP BY 1
)
SELECT g, CAST(n AS BIGINT) AS n, round(ce, 6) AS cum_error,
  round(sae / n, 6) AS mad,
  round(CASE WHEN sae / n > 0 THEN ce / (sae / n) END, 6)
    AS tracking_signal
FROM agg
""")
def q_tracking_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-forecast tracking signal per type over the daily series —
    cumulative error over MAD, the forecast-bias alarm."""
    return tmp.tracking_signal(
        _daily_series_r12(spark, sf_dir), "g", "d", "v"
    )


# ---------------------------------------------------------------------------
# Attribute control charts / EWMA chart / pivot points.


@register("u_chart", oracle="""
-- Same daily defect/distinct-user buckets, same Poisson-rate limits.
WITH src AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS w,
    CAST(value > 150 AS INTEGER) AS d, user_id
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), per AS (
  SELECT w, sum(d) AS di, count(DISTINCT user_id) AS ni
  FROM src GROUP BY 1
), ok AS (SELECT * FROM per WHERE ni > 0),
tot AS (
  SELECT count(*) AS nb, sum(di) AS dt, sum(ni) AS nt FROM ok
), lim AS (
  SELECT nb, CAST(dt AS DOUBLE) / nt AS ub FROM tot
), j AS (
  SELECT l.nb, l.ub, CAST(p.di AS DOUBLE) / p.ni AS ui,
    l.ub + 3.0 * sqrt(l.ub / CAST(p.ni AS DOUBLE)) AS ucl,
    greatest(l.ub - 3.0 * sqrt(l.ub / CAST(p.ni AS DOUBLE)), 0.0)
      AS lcl
  FROM ok p, lim l
)
SELECT 'events' AS key, CAST(nb AS BIGINT) AS n_buckets,
  round(ub, 6) AS u_bar,
  CAST(count(*) FILTER (ui > ucl OR ui < lcl) AS BIGINT) AS n_out
FROM j GROUP BY 1, 2, 3
""")
def q_u_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u-chart of daily high-value events per ACTIVE USER (defects
    per unit with a moving denominator) — the varying-n Poisson-rate
    sibling of the c/p/np charts."""
    from from_superset_to_clickhouse_spark.operators.temporal import u_chart

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    src = ev.select(
        F.lit("events").alias("k"),
        "ts",
        (F.col("value") > 150).alias("defect"),
        "user_id",
    )
    return u_chart(src, "k", "ts", "defect", "user_id", bucket="1 day")


@register("np_chart", oracle="""
-- Same fixed-200 subgroup chunks in (ts, event_id) order.
WITH src AS (
  SELECT event_type AS key, CAST(value > 100 AS INTEGER) AS f,
    (row_number() OVER (PARTITION BY event_type
      ORDER BY ts, event_id) - 1) // 200 AS chunk
  FROM events WHERE value IS NOT NULL
), per AS (
  SELECT key, chunk, count(*) AS n, sum(f) AS d
  FROM src GROUP BY 1, 2
), full_g AS (SELECT * FROM per WHERE n = 200),
tot AS (
  SELECT key, count(*) AS nb, sum(d) AS dt FROM full_g GROUP BY 1
), lim AS (
  SELECT key, nb, CAST(dt AS DOUBLE) / nb AS npb,
    CAST(dt AS DOUBLE) / nb / 200.0 AS pb
  FROM tot
), j AS (
  SELECT p.key, l.nb, l.npb, CAST(p.d AS DOUBLE) AS d,
    l.npb + 3.0 * sqrt(l.npb * (1.0 - l.pb)) AS ucl,
    greatest(l.npb - 3.0 * sqrt(l.npb * (1.0 - l.pb)), 0.0) AS lcl
  FROM full_g p JOIN lim l ON p.key = l.key
)
SELECT key, CAST(nb AS BIGINT) AS n_subgroups,
  round(npb, 6) AS np_bar,
  CAST(count(*) FILTER (d > ucl OR d < lcl) AS BIGINT) AS n_out
FROM j GROUP BY 1, 2, 3
""")
def q_np_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np-chart of defective counts in fixed 200-event subgroups per
    type ((ts, event_id) order, value > 100 flag) — equal-n counts,
    the shop-floor tally form."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        np_chart,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    src = ev.select(
        "event_type",
        F.struct(F.col("ts"), F.col("event_id")).alias("ord"),
        (F.col("value") > 100).alias("flag"),
    )
    return np_chart(src, "event_type", "ord", "flag", subgroup_size=200)


@register("ewma_chart", oracle="""
-- Same unrolled EWMA prefix fold, MR-bar sigma, time-varying limits.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), st AS (
  SELECT g, floor(avg(v) * 1048576.0) / 1048576.0 AS c,
    count(*) AS n
  FROM gq GROUP BY 1
), mrt AS (
  SELECT g, floor(avg(mr) * 1048576.0) / 1048576.0 AS mrb
  FROM (
    SELECT g, abs(v - lag(v) OVER (PARTITION BY g ORDER BY d)) AS mr
    FROM gq
  ) WHERE mr IS NOT NULL GROUP BY 1
), t AS (
  SELECT gq.g, gq.d, gq.v, st.c, st.n, mrt.mrb,
    list(gq.v) OVER (PARTITION BY gq.g ORDER BY gq.d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l,
    CAST(row_number() OVER (PARTITION BY gq.g ORDER BY gq.d)
      AS DOUBLE) AS rn
  FROM gq JOIN st ON gq.g = st.g JOIN mrt ON gq.g = mrt.g
), z AS (
  SELECT g, c, n, mrb, rn,
    list_sum(list_transform(l,
      (x, i) -> x * 0.2 * pow(0.8, len(l) - i)))
      + c * pow(0.8, CAST(len(l) AS DOUBLE)) AS zv
  FROM t
), fl AS (
  SELECT g, c, n, mrb / 1.128 AS sig,
    (zv > c + 3.0 * (mrb / 1.128)
       * sqrt(0.2 / 1.8 * (1.0 - pow(0.8, 2.0 * rn)))
     OR zv < c - 3.0 * (mrb / 1.128)
       * sqrt(0.2 / 1.8 * (1.0 - pow(0.8, 2.0 * rn)))) AS oo
  FROM z
)
SELECT g, CAST(max(n) AS BIGINT) AS n, round(max(c), 6) AS center,
  round(max(sig), 6) AS sigma_hat,
  CAST(count(*) FILTER (oo) AS BIGINT) AS n_out
FROM fl GROUP BY g
""")
def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ=0.2, 3σ, MR-bar σ̂) over each type's
    daily series — the small-shift detector with exact unrolled
    recursion and time-varying limits."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        ewma_chart,
    )

    return ewma_chart(
        _daily_series_r12(spark, sf_dir), "g", "d", "v", lam=0.2
    )


@register("pivot_points", oracle="""
-- Same daily bars, pure pivot arithmetic.
WITH bars AS (""" + _DAILY_OHLC_R16_SQL + """)
SELECT g AS event_type, d AS bar_start,
  round((hi + lo + cl) / 3.0, 6) AS pivot,
  round(2.0 * ((hi + lo + cl) / 3.0) - lo, 6) AS r1,
  round(2.0 * ((hi + lo + cl) / 3.0) - hi, 6) AS s1,
  round((hi + lo + cl) / 3.0 + (hi - lo), 6) AS r2,
  round((hi + lo + cl) / 3.0 - (hi - lo), 6) AS s2
FROM bars
""")
def q_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-trader pivot levels from each type's daily value bars —
    P/R1/S1/R2/S2 off the shared one-pass OHLC aggregate."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        pivot_points,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return pivot_points(
        ev, "event_type", "ts", "value", "event_id", bar="1 day"
    )


# ---------------------------------------------------------------------------
# Spatial pair statistics / graph elite core / stylometry.


_GRID_CELLS_SQL = """
  SELECT user_id % 12 AS i, floor(user_id / 12) % 12 AS j,
    avg(CAST(value AS DOUBLE)) AS a
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


def _grid_cells_r16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The morans_i entry's 12×12 user grid with the planted smooth
    gradient — shared by the geary/getis queue entries."""
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    cells = ev.groupBy(
        F.pmod(F.col("user_id"), 12).alias("i"),
        F.pmod(F.floor(F.col("user_id") / 12), 12).alias("j"),
    ).agg(F.avg("value").alias("_a"))
    return cells.select(
        "i",
        "j",
        (
            F.col("_a") + 2.0 * (F.col("i") + F.col("j")).cast("double")
        ).alias("v"),
    )


@register("geary_c", oracle="""
-- Same grid/gradient, same rook joins, exact decimal sums.
WITH cells AS (""" + _GRID_CELLS_SQL + """),
src AS (
  SELECT i, j,
    floor((a + 2.0 * CAST(i + j AS DOUBLE)) * 1048576.0)
      / 1048576.0 AS v
  FROM cells
), m AS (
  SELECT floor(avg(v) * 1048576.0) / 1048576.0 AS mv, count(*) AS n
  FROM src
), z AS (
  SELECT i, j, n, v, v - mv AS z FROM src, m
), adj AS (
  SELECT count(*) AS np,
    CAST(sum(CAST(floor((vl - vr) * (vl - vr) * 1099511627776.0)
      AS BIGINT)) AS DOUBLE) / 1099511627776.0 AS sqd
  FROM (
    SELECT l.v AS vl, r.v AS vr
    FROM z l JOIN z r ON r.i = l.i + 1 AND r.j = l.j
    UNION ALL
    SELECT l.v, r.v
    FROM z l JOIN z r ON r.i = l.i AND r.j = l.j + 1
  )
), den AS (
  SELECT max(n) AS n,
    CAST(sum(CAST(floor(z * z * 1099511627776.0) AS BIGINT))
      AS DOUBLE) / 1099511627776.0 AS zz
  FROM z
)
SELECT CAST(n AS BIGINT) AS n_cells,
  CAST(2 * np AS BIGINT) AS w_sum,
  round(CASE WHEN zz > 0 AND np > 0
    THEN (CAST(n AS DOUBLE) - 1.0) * (2.0 * sqd)
      / (2.0 * (2.0 * np) * zz) END, 6) AS geary_c
FROM den, adj
""")
def q_geary_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geary's C on the gradient grid — the local-difference
    contiguity ratio (must read well below 1 on the planted smooth
    field), the sensitivity complement to the morans_i entry."""
    from from_superset_to_clickhouse_spark.operators.geo import (
        geary_c_grid,
    )

    return geary_c_grid(_grid_cells_r16(spark, sf_dir), "i", "j", "v")


@register("getis_ord", oracle="""
-- Same grid, numerator over rook pairs, exact total-product denom.
WITH cells AS (""" + _GRID_CELLS_SQL + """),
src AS (
  SELECT i, j,
    floor((a + 2.0 * CAST(i + j AS DOUBLE)) * 1048576.0)
      / 1048576.0 AS v
  FROM cells
), ok AS (SELECT * FROM src WHERE v >= 0),
adj AS (
  SELECT count(*) AS np,
    CAST(sum(CAST(floor(vl * vr * 1099511627776.0) AS BIGINT))
      AS DOUBLE) / 1099511627776.0 AS num
  FROM (
    SELECT l.v AS vl, r.v AS vr
    FROM ok l JOIN ok r ON r.i = l.i + 1 AND r.j = l.j
    UNION ALL
    SELECT l.v, r.v
    FROM ok l JOIN ok r ON r.i = l.i AND r.j = l.j + 1
  )
), tot AS (
  SELECT count(*) AS n,
    CAST(sum(CAST(floor(v * 1048576.0) AS BIGINT)) AS DOUBLE)
      / 1048576.0 AS sx,
    CAST(sum(CAST(floor(v * v * 1099511627776.0) AS BIGINT))
      AS DOUBLE) / 1099511627776.0 AS sxx
  FROM ok
)
SELECT CAST(n AS BIGINT) AS n_cells,
  CAST(2 * np AS BIGINT) AS w_sum,
  round(CASE WHEN sx * sx - sxx > 0
    THEN 2.0 * num / (sx * sx - sxx) END, 6) AS g_stat,
  round((2.0 * np) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)),
    6) AS expected_g
FROM tot, adj
""")
def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Getis–Ord G on the same non-negative gradient grid —
    'do HIGH cells neighbor high cells' (G above its W/(n(n−1))
    expectation on the planted field)."""
    from from_superset_to_clickhouse_spark.operators.geo import (
        getis_ord_g,
    )

    return getis_ord_g(_grid_cells_r16(spark, sf_dir), "i", "j", "v")


@register("rich_club", oracle="""
-- Same canonical edges, same degree>k club density.
WITH d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 300 AS s, (doc_id * 11 + 1) % 300 AS t FROM d
  UNION ALL
  SELECT doc_id % 300, (doc_id * 17 + 2) % 300 FROM d
  UNION ALL
  SELECT doc_id % 20, (doc_id // 20) % 20 FROM d WHERE doc_id < 400
),
e0 AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM raw
  WHERE least(s, t) < greatest(s, t)
),
deg AS (
  SELECT n, count(*) AS dg
  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n
),
club AS (SELECT n FROM deg WHERE dg > 10),
ec AS (
  SELECT count(*) AS e FROM e0
  WHERE a IN (SELECT n FROM club) AND b IN (SELECT n FROM club)
), nc AS (SELECT count(*) AS c FROM club)
SELECT CAST(10 AS BIGINT) AS k, CAST(c AS BIGINT) AS n_club,
  CAST(e AS BIGINT) AS e_club,
  round(CASE WHEN c >= 2 THEN 2.0 * e
    / (CAST(c AS DOUBLE) * (CAST(c AS DOUBLE) - 1.0)) END, 6) AS phi
FROM nc, ec
""")
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient (k=10) of the skewed test graph: the K20
    core nodes all exceed degree 10 and wire to each other — phi must
    read near 1 while the periphery is excluded."""
    from from_superset_to_clickhouse_spark.operators.graph import rich_club

    return rich_club(_kcore_edges(spark, sf_dir), k=10)


@register("burrows_delta", oracle="""
-- Same tokenizer, top-50 by (count DESC, word), exact cell ratios,
-- same z-score and pair-mean arithmetic.
WITH toks AS (
  SELECT source AS g, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
    x -> x <> '')) AS w
  FROM documents
), top AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM toks GROUP BY 1
    ORDER BY c DESC, w LIMIT 50
  )
), gt AS (SELECT g, count(*) AS n FROM toks GROUP BY 1),
cell AS (
  SELECT g, w, count(*) AS cw FROM toks
  WHERE w IN (SELECT w FROM top) GROUP BY 1, 2
), grid AS (
  SELECT gt.g, gt.n, top.w FROM gt CROSS JOIN top
), f AS (
  SELECT grid.g, grid.w,
    coalesce(cell.cw, 0) / CAST(grid.n AS DOUBLE) AS f
  FROM grid LEFT JOIN cell ON grid.g = cell.g AND grid.w = cell.w
), fm AS (
  SELECT g, w, f,
    sum(f) OVER pw / count(*) OVER pw AS mean,
    count(*) OVER pw AS kk
  FROM f
  WINDOW pw AS (PARTITION BY w)
), fs AS (
  SELECT g, w, f, mean,
    sqrt(sum((f - mean) * (f - mean))
      OVER (PARTITION BY w) / (kk - 1.0)) AS sd
  FROM fm
), z AS (
  SELECT g, w,
    CASE WHEN sd > 0 THEN (f - mean) / sd ELSE 0.0 END AS z
  FROM fs
)
SELECT a.g AS group_a, b.g AS group_b,
  round(avg(abs(a.z - b.z)), 6) AS delta
FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
GROUP BY 1, 2
""")
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distances between the 20 document
    sources over the top-50 corpus words — the authorship fingerprint
    as pairwise mean |z| gaps (190 source pairs)."""
    from from_superset_to_clickhouse_spark.operators.text import (
        burrows_delta,
    )

    return burrows_delta(_docs(spark, sf_dir), "source", "text", top_n=50)


# ---------------------------------------------------------------------------
# Design-based estimation / directed drift / rank distance /
# distributional effects.


@register("horvitz_thompson", oracle="""
-- Same md5-uniform Poisson sample, same grid-exact HT sums.
WITH o AS (
  SELECT o_orderkey, o_totalprice,
    CASE WHEN o_totalprice > 200000.0 THEN 0.5 ELSE 0.1 END AS pi,
    CAST(('0x' || substr(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
      1, 13)) AS BIGINT) / 4503599627370496.0 AS u
  FROM orders WHERE o_totalprice IS NOT NULL
), samp AS (
  SELECT floor(CAST(o_totalprice AS DOUBLE) * 1048576.0)
      / 1048576.0 AS y,
    pi
  FROM o WHERE u < pi
), agg AS (
  SELECT count(*) AS n,
    CAST(CAST(sum(CAST(floor(y / pi * 1048576.0) AS HUGEINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS t,
    CAST(CAST(sum(CAST(floor((1.0 - pi) * (y / pi) * (y / pi)
      * 1024.0) AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 1024.0 AS v
  FROM samp
)
SELECT CAST(n AS BIGINT) AS n_sample, round(t, 6) AS ht_total,
  round(sqrt(v), 6) AS ht_se
FROM agg
""")
def q_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson total of order value over a deterministic
    unequal-probability Poisson sample (π = 0.5 for orders above
    200k, 0.1 below — md5-uniform inclusion) — the honest expansion
    estimator for a size-biased sample."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        horvitz_thompson,
    )

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("ht"), F.col("o_orderkey").cast("string")
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 52))
    pi = F.when(F.col("o_totalprice") > 200000.0, F.lit(0.5)).otherwise(
        F.lit(0.1)
    )
    samp = o.withColumn("_pi", pi).filter(u < F.col("_pi"))
    return horvitz_thompson(samp, "o_totalprice", "_pi")


@register("kl_divergence", oracle="""
-- Same buckets, same Lidstone smoothing on the union support.
WITH src AS (
  SELECT event_type AS g, least(floor(value / 25.0), 19) AS k
  FROM events WHERE value IS NOT NULL
    AND event_type IN ('purchase', 'click')
), cells AS (
  SELECT k, count(*) FILTER (g = 'purchase') AS cp,
    count(*) FILTER (g = 'click') AS cq
  FROM src GROUP BY 1
), t AS (
  SELECT cp, cq, sum(cp) OVER () AS np, sum(cq) OVER () AS nq,
    count(*) OVER () AS kk
  FROM cells
), pr AS (
  SELECT np, nq, kk,
    (cp + 0.5) / (CAST(np AS DOUBLE) + 0.5 * kk) AS p,
    (cq + 0.5) / (CAST(nq AS DOUBLE) + 0.5 * kk) AS q
  FROM t
), agg AS (
  SELECT max(np) AS np, max(nq) AS nq, max(kk) AS kk,
    sum(p * ln(p / q)) AS pq, sum(q * ln(q / p)) AS qp
  FROM pr
)
SELECT CAST(np AS BIGINT) AS n_p, CAST(nq AS BIGINT) AS n_q,
  CAST(kk AS BIGINT) AS n_buckets,
  round(pq, 6) AS kl_pq, round(qp, 6) AS kl_qp
FROM agg
""")
def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed KL divergences (Lidstone α=0.5, union support)
    between the purchase and click value histograms — which way the
    distribution moved, beside the symmetric jsd/hellinger entries."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        kl_divergence,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    src = ev.select(
        "event_type",
        F.least(F.floor(F.col("value") / 25.0), F.lit(19)).alias("bkt"),
    )
    return kl_divergence(src, "event_type", "purchase", "click", "bkt")


@register("spearman_footrule", oracle="""
-- Same (score DESC, id) dense rankings, exact L1 sum.
WITH d AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS sa,
    CASE WHEN doc_id % 7 = 0 THEN CAST(n_chars AS DOUBLE) / 2.0
      ELSE CAST(n_chars AS DOUBLE) END AS sb
  FROM documents
), r AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY sa DESC, doc_id) AS ra,
    row_number() OVER (ORDER BY sb DESC, doc_id) AS rb
  FROM d
), agg AS (
  SELECT count(*) AS n, sum(abs(ra - rb)) AS f FROM r
)
SELECT CAST(n AS BIGINT) AS n, CAST(f AS BIGINT) AS footrule,
  round(CASE WHEN n * n // 2 > 0
    THEN CAST(f AS DOUBLE) / (n * n // 2) END, 6) AS f_norm
FROM agg
""")
def q_spearman_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman footrule between ranking documents by length and by a
    planted mostly-agreeing second score (length with every 7th doc
    shuffled down) — the L1 rank-displacement audit next to rbo."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        spearman_footrule,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").cast("double").alias("s_a"),
        F.when(
            F.pmod(F.col("doc_id"), 7) == 0,
            F.col("n_chars").cast("double") / 2.0,
        ).otherwise(F.col("n_chars").cast("double")).alias("s_b"),
    )
    return spearman_footrule(d, "doc_id", "s_a", "s_b")


@register("qte", oracle="""
-- Same distinct-value cumulative selection, exact type-1 order
-- statistics at each q.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), pv AS (
  SELECT g, v, count(*) AS c FROM src GROUP BY 1, 2
), t AS (
  SELECT g, v, c,
    coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca,
    sum(c) OVER (PARTITION BY g) AS n
  FROM pv
), qq AS (
  SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q
), hit AS (
  SELECT qq.q, t.g, t.v
  FROM t CROSS JOIN qq
  WHERE t.ca < ceil(qq.q * t.n) AND ceil(qq.q * t.n) <= t.ca + t.c
)
SELECT round(a.q, 2) AS q, round(a.v, 6) AS v_a,
  round(b.v, 6) AS v_b, round(a.v - b.v, 6) AS qte
FROM (SELECT q, v FROM hit WHERE g = 'purchase') a
JOIN (SELECT q, v FROM hit WHERE g = 'view') b ON a.q = b.q
""")
def q_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (.25/.5/.75/.9) between purchase
    and view event values — exact order-statistic gaps showing WHERE
    in the distribution the two segments differ."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        quantile_treatment_effect,
    )

    ev = _ev(spark, sf_dir)
    return quantile_treatment_effect(
        ev, "event_type", "purchase", "view", "value"
    )


# ---------------------------------------------------------------------------
# Corpus dispersion / chain predictability / smoothed candles.


@register("word_dispersion", oracle="""
-- Same tokenizer, top-30 by (count DESC, word), exact ratios.
WITH toks AS (
  SELECT source AS g, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
    x -> x <> '')) AS w
  FROM documents
), top AS (
  SELECT w, c FROM (
    SELECT w, count(*) AS c FROM toks GROUP BY 1
    ORDER BY c DESC, w LIMIT 30
  )
), parts AS (
  SELECT g, count(*) AS n FROM toks GROUP BY 1
), ps AS (
  SELECT g, CAST(n AS DOUBLE) / sum(n) OVER () AS s FROM parts
), cell AS (
  SELECT w, g, count(*) AS cw FROM toks
  WHERE w IN (SELECT w FROM top) GROUP BY 1, 2
), grid AS (
  SELECT top.w, top.c, ps.g, ps.s FROM top CROSS JOIN ps
), f AS (
  SELECT grid.w, grid.c, grid.s,
    coalesce(cell.cw, 0) / CAST(grid.c AS DOUBLE) AS v
  FROM grid LEFT JOIN cell ON grid.w = cell.w AND grid.g = cell.g
)
SELECT w AS word, CAST(c AS BIGINT) AS total,
  round(0.5 * sum(abs(v - s)), 6) AS dp
FROM f GROUP BY 1, 2
""")
def q_word_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP dispersion of the top-30 corpus words across the 20
    document sources — flags tokens whose mass lives in one crawl
    source (boilerplate) vs language that spreads with the corpus."""
    from from_superset_to_clickhouse_spark.operators.text import (
        word_dispersion,
    )

    return word_dispersion(_docs(spark, sf_dir), "source", "text", top_n=30)


@register("entropy_rate", oracle="""
-- Same lag-window transitions, exact cell ratios.
WITH t AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
    ORDER BY ts, event_id) AS f, event_type AS tt
  FROM events WHERE event_type IS NOT NULL
), tr AS (SELECT f, tt FROM t WHERE f IS NOT NULL),
cells AS (SELECT f, tt, count(*) AS c FROM tr GROUP BY 1, 2),
sc AS (
  SELECT f, c, sum(c) OVER (PARTITION BY f) AS cf,
    sum(c) OVER () AS n
  FROM cells
), agg AS (
  SELECT max(n) AS n, count(DISTINCT f) AS k,
    sum(-(CAST(cf AS DOUBLE) / n) * (CAST(c AS DOUBLE) / cf)
      * ln(CAST(c AS DOUBLE) / cf)) AS h
  FROM sc
)
SELECT CAST(n AS BIGINT) AS n_transitions,
  CAST(k AS BIGINT) AS n_states, round(h, 6) AS h_rate,
  round(ln(CAST(k AS DOUBLE)), 6) AS h_max,
  round(CASE WHEN ln(CAST(k AS DOUBLE)) > 0
    THEN 1.0 - h / ln(CAST(k AS DOUBLE)) END, 6) AS predictability
FROM agg
""")
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type chain — the
    stationary-weighted one-number predictability of the source,
    scalar companion to the per-state markov_entropy."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        entropy_rate,
    )

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    return entropy_rate(ev, "user_id", "ts", "event_type")


@register("heikin_ashi", oracle="""
-- Same daily bars, same grid inputs, same unrolled ha_open fold.
WITH bars AS (""" + _DAILY_OHLC_R16_SQL + """),
gq AS (
  SELECT g, d,
    floor(op * 1048576.0) / 1048576.0 AS o,
    floor(hi * 1048576.0) / 1048576.0 AS h,
    floor(lo * 1048576.0) / 1048576.0 AS l,
    floor(cl * 1048576.0) / 1048576.0 AS c
  FROM bars
), hb AS (
  SELECT g, d, o, h, l, c, (o + h + l + c) / 4.0 AS hac
  FROM gq
), fr AS (
  SELECT g, d, h, l, hac,
    first_value((o + c) / 2.0) OVER wp AS seed,
    list(hac) OVER wp AS lst
  FROM hb
  WINDOW wp AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), ho AS (
  SELECT g, d, h, l, hac,
    CASE WHEN len(lst) = 1 THEN seed
      ELSE seed * pow(0.5, CAST(len(lst) - 1 AS DOUBLE))
        + list_sum(list_transform(lst[1:len(lst) - 1],
            (x, i) -> x * pow(0.5, len(lst) - i)))
    END AS hao
  FROM fr
)
SELECT g AS event_type, d AS bar_start, round(hao, 6) AS ha_open,
  round(greatest(h, hao, hac), 6) AS ha_high,
  round(least(l, hao, hac), 6) AS ha_low,
  round(hac, 6) AS ha_close
FROM ho
""")
def q_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi smoothed candles over each type's daily value
    bars — the unrolled ha_open recursion as bounded prefix folds."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        heikin_ashi,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return heikin_ashi(
        ev, "event_type", "ts", "value", "event_id", bar="1 day"
    )


# ---------------------------------------------------------------------------
# Randomness / forecasting / indicators over the shared per-type daily
# series.


@register("turning_point", oracle="""
-- Same grid series, same strict-extrema census and moments.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), l AS (
  SELECT g, v, lag(v) OVER w AS pv, lead(v) OVER w AS nv
  FROM gq WINDOW w AS (PARTITION BY g ORDER BY d)
), a AS (
  SELECT g, count(*) AS n,
    CAST(sum(CASE WHEN (pv < v AND v > nv) OR (pv > v AND v < nv)
      THEN 1 ELSE 0 END) AS BIGINT) AS nt
  FROM l GROUP BY g
), z AS (
  SELECT g, n, nt,
    2.0 * (n - 2.0) / 3.0 AS e,
    CASE WHEN n > 3 THEN (CAST(nt AS DOUBLE) - 2.0 * (n - 2.0) / 3.0)
      / sqrt((16.0 * n - 29.0) / 90.0) END AS zs
  FROM a
)
SELECT g, CAST(n AS BIGINT) AS n, nt AS n_turning,
  round(e, 6) AS expected, round(zs, 6) AS z_stat,
  CAST(abs(zs) > 1.96 AS INTEGER) AS reject_5pct
FROM z
""")
def q_turning_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test on each type's daily mean-value
    series — strict local-extrema census vs E[T] = 2(n−2)/3."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        turning_point_test,
    )

    return turning_point_test(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("bartels_rank", oracle="""
-- Same midranks (rank + tie-block size), same exact quadratic forms.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), r AS (
  SELECT g, d,
    CAST(rank() OVER (PARTITION BY g ORDER BY v) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY g, v) AS DOUBLE) - 1.0) / 2.0
      AS r
  FROM gq
), l AS (
  SELECT g, r, lead(r) OVER (PARTITION BY g ORDER BY d) AS rn FROM r
), a AS (
  SELECT g, count(*) AS n,
    sum(CASE WHEN rn IS NOT NULL THEN (r - rn) * (r - rn) * 4.0 END)
      / 4.0 AS num,
    sum(r * 4.0) / 4.0 AS sr,
    sum(r * r * 4.0) / 4.0 AS sr2
  FROM l GROUP BY g
), z AS (
  SELECT g, n,
    CASE WHEN sr2 - sr * sr / n > 0
      THEN num / (sr2 - sr * sr / n) END AS rvn,
    4.0 * (n - 2.0) * (5.0 * n * n - 2.0 * n - 9.0)
      / (5.0 * n * (n + 1.0) * (n - 1.0) * (n - 1.0)) AS var
  FROM a
), f AS (
  SELECT g, n, rvn,
    CASE WHEN n > 3 THEN (rvn - 2.0) / sqrt(var) END AS zs
  FROM z
)
SELECT g, CAST(n AS BIGINT) AS n, round(rvn, 6) AS rvn,
  round(zs, 6) AS z_stat,
  CAST(abs(zs) > 1.96 AS INTEGER) AS reject_5pct
FROM f
""")
def q_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank von Neumann ratio on each type's daily series —
    nonparametric serial-randomness z from exact midrank sums."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        bartels_rank_test,
    )

    return bartels_rank_test(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("theta_fc", oracle="""
-- Same grid OLS sums, same unrolled SES(0.5) fold over the theta2
-- line, same half-half blend.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), idx AS (
  SELECT g, d, v,
    CAST(row_number() OVER (PARTITION BY g ORDER BY d) AS DOUBLE) AS t
  FROM gq
), a AS (
  SELECT g, count(*) AS n,
    sum(v * 1048576.0) / 1048576.0 AS sv,
    sum(t) AS st, sum(t * t) AS st2,
    sum(floor(t * v * 1048576.0)) / 1048576.0 AS stv,
    list({'t': t, 'v': v} ORDER BY t) AS arr
  FROM idx GROUP BY g
), ab AS (
  SELECT g, n, arr,
    CASE WHEN st2 - st * st / n > 0
      THEN (stv - st * sv / n) / (st2 - st * st / n) ELSE 0.0 END AS b,
    sv, st
  FROM a
), ab2 AS (
  SELECT g, n, arr, b, (sv - b * st) / n AS a FROM ab
), ses AS (
  SELECT g, n, a, b,
    list_sum(list_transform(arr, (x, i) ->
      (2.0 * x.v - (a + b * x.t))
      * CASE WHEN i = 1 THEN pow(0.5, CAST(n - 1 AS DOUBLE))
        ELSE 0.5 * pow(0.5, CAST(n - i AS DOUBLE)) END)) AS s
  FROM ab2
)
SELECT g, CAST(n AS BIGINT) AS n, round(a, 6) AS intercept,
  round(b, 6) AS slope, round(s, 6) AS ses_theta2,
  round(0.5 * (a + b * (n + 1.0)) + 0.5 * s, 6) AS forecast
FROM ses
""")
def q_theta_fc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method 1-step forecast of each type's daily series: OLS
    trend + SES(α=½) of the θ=2 line, both replayed term-for-term."""
    return tmp.theta_forecast(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("aroon", oracle="""
-- Same struct-max argmax (lexicographic, ties to latest index).
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), idx AS (
  SELECT g, d, v,
    CAST(row_number() OVER (PARTITION BY g ORDER BY d) AS BIGINT) AS i
  FROM gq
), w AS (
  SELECT g, d, i,
    count(*) OVER wf AS c,
    struct_extract(max({'v': v, 'i': i}) OVER wf, 'i') AS hi_i,
    struct_extract(max({'v': -v, 'i': i}) OVER wf, 'i') AS lo_i
  FROM idx
  WINDOW wf AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
)
SELECT g, d,
  round(CASE WHEN c = 11
    THEN 100.0 * (10.0 - CAST(i - hi_i AS DOUBLE)) / 10.0 END, 6)
    AS aroon_up,
  round(CASE WHEN c = 11
    THEN 100.0 * (10.0 - CAST(i - lo_i AS DOUBLE)) / 10.0 END, 6)
    AS aroon_down
FROM w
""")
def q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon(10) freshness-of-extremes per daily point — struct-max
    argmax in one keyed window, ties to the latest bar."""
    return tmp.aroon(_daily_series_r12(spark, sf_dir), "g", "d", "v", period=10)


def _esd_round_sql(r: int) -> str:
    """One unrolled S-H-ESD round: grid moments per series, the
    lexicographic (dev, r, d, v) struct-max pick, flag vs lambda,
    anti-join removal feeding the next round."""
    return f"""
st{r} AS (
  SELECT g, count(*) AS n, sum(r * 1048576.0) / 1048576.0 AS s1,
    sum(floor(r * r * 1048576.0)) / 1048576.0 AS s2
  FROM cur{r} GROUP BY g
), ms{r} AS (
  SELECT g, n, s1 / n AS m,
    sqrt(greatest((s2 - n * (s1 / n) * (s1 / n)) / n, 0.0)) AS sd
  FROM st{r}
), mx{r} AS (
  SELECT c.g, max({{'dev': abs(c.r - m.m), 'r': c.r, 'd': c.d,
    'v': c.v}}) AS mx
  FROM cur{r} c JOIN ms{r} m USING (g) GROUP BY c.g
), pk{r} AS (
  SELECT x.g, struct_extract(mx, 'd') AS d,
    struct_extract(mx, 'v') AS v, struct_extract(mx, 'r') AS r,
    CASE WHEN m.sd > 0 AND m.n > 2
      THEN struct_extract(mx, 'dev') / m.sd END AS rs
  FROM mx{r} x JOIN ms{r} m USING (g)
), fl{r} AS (
  SELECT g, d, v, r, rs, {r} AS rnd FROM pk{r} WHERE rs > 2.5
), cur{r + 1} AS (
  SELECT c.* FROM cur{r} c
  WHERE NOT EXISTS (
    SELECT 1 FROM pk{r} p WHERE p.g = c.g AND p.d = c.d)
)"""


@register("seasonal_esd", oracle="""
-- Same planted spikes, same weekday-median deseason, same 3 unrolled
-- grid-exact ESD rounds with the (dev, r, d, v) struct-max pick.
WITH daily AS (""" + _DAILY_G_SQL + """),
pl AS (
  SELECT g, d, v + CASE WHEN extract(day FROM d) = 10 THEN 400.0
    WHEN extract(day FROM d) = 20 THEN -400.0 ELSE 0.0 END AS v
  FROM daily
), gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM pl
), ds AS (
  SELECT g, d, v,
    median(v) OVER (PARTITION BY g, dayofweek(d)) AS mw
  FROM gq
), cur1 AS (
  SELECT g, d, v,
    floor((v - mw) * 1048576.0) / 1048576.0 AS r
  FROM ds
),""" + ",".join(_esd_round_sql(r) for r in (1, 2, 3)) + """
SELECT g, d, round(v, 6) AS v, round(r, 6) AS residual,
  round(rs, 6) AS r_stat, CAST(rnd AS INTEGER) AS "round"
FROM (SELECT * FROM fl1 UNION ALL SELECT * FROM fl2
      UNION ALL SELECT * FROM fl3)
""")
def q_seasonal_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-hybrid ESD over each type's daily series with two
    PLANTED spikes (+400 on day-of-month 10, −400 on day 20): weekday-
    median deseasoning + 3 unrolled ESD rounds must surface them."""
    d = _daily_series_r12(spark, sf_dir)
    v = F.col("v") + F.when(
        F.dayofmonth("d") == 10, F.lit(400.0)
    ).when(F.dayofmonth("d") == 20, F.lit(-400.0)).otherwise(F.lit(0.0))
    return tmp.seasonal_esd(
        d.select("g", "d", v.alias("v")), "g", "d", "v",
        lambdas=(2.5, 2.5, 2.5),
    )


# ---------------------------------------------------------------------------
# Goodness-of-fit / combined evidence / rank tests over the raw event
# values.


_SF_POLY = """(1.0 - (1.0 - (0.254829592 * {t} - 0.284496736 * {t} * {t}
    + 1.421413741 * {t} * {t} * {t} - 1.453152027 * {t} * {t} * {t} * {t}
    + 1.061405429 * {t} * {t} * {t} * {t} * {t}) * exp(-({x} * {x})))) / 2.0"""


@register("stouffer_z", oracle="""
-- Same exact-count per-type z's, sqrt-size weights, grid-exact sums,
-- erf-polynomial two-sided p.
WITH arms AS (
  SELECT event_type,
    count(*) FILTER (user_id % 2 = 0) AS na,
    count(*) FILTER (user_id % 2 = 0 AND value > 100) AS xa,
    count(*) FILTER (user_id % 2 = 1) AS nb,
    count(*) FILTER (user_id % 2 = 1 AND value > 100) AS xb
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1
), zw AS (
  SELECT
    (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
    / sqrt((CAST(xa + xb AS DOUBLE) / (CAST(na AS DOUBLE) + nb))
      * (1.0 - CAST(xa + xb AS DOUBLE) / (CAST(na AS DOUBLE) + nb))
      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) AS z,
    sqrt(CAST(na AS DOUBLE) + nb) AS w
  FROM arms
), a AS (
  SELECT count(*) AS k,
    CAST(sum(CAST(floor(w * z * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS wz,
    CAST(sum(CAST(floor(w * w * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS w2
  FROM zw WHERE z IS NOT NULL AND w IS NOT NULL
), zc AS (
  SELECT k, wz / sqrt(w2) AS z FROM a
), et AS (
  SELECT k, z, abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
  FROM zc
)
SELECT CAST(k AS BIGINT) AS k, round(z, 6) AS z_comb,
  round(2.0 * (""" + _SF_POLY.format(t="t", x="xx") + """), 6) AS p_value
FROM et
""")
def q_stouffer_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stouffer's weighted z over the five per-type A/B proportion
    z's (user parity arms, high-value outcome; the ``fisher_combine``
    arms) with w = √segment size — pooled signed evidence."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        normal_sf,
        stouffer_z,
    )

    ev = _ev(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    arms = ev.groupBy("event_type").agg(
        F.count(F.when(F.pmod(F.col("user_id"), 2) == 0, 1)).alias("_na"),
        F.count(
            F.when((F.pmod(F.col("user_id"), 2) == 0)
                   & (F.col("value") > 100), 1)
        ).alias("_xa"),
        F.count(F.when(F.pmod(F.col("user_id"), 2) == 1, 1)).alias("_nb"),
        F.count(
            F.when((F.pmod(F.col("user_id"), 2) == 1)
                   & (F.col("value") > 100), 1)
        ).alias("_xb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    pa = F.col("_xa").cast("double") / na
    pb = F.col("_xb").cast("double") / nb
    pp = (F.col("_xa") + F.col("_xb")).cast("double") / (na + nb)
    z = (pa - pb) / F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    zw = arms.select(z.alias("z"), F.sqrt(na + nb).alias("w"))
    return stouffer_z(zw, "z", "w")


@register("cvm_one_sample", oracle="""
-- Same clamped uniform PIT, same grid order-statistic terms.
WITH src AS (
  SELECT least(greatest(CAST(value AS DOUBLE) / 500.0, 0.0), 1.0) AS u
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT u, CAST(row_number() OVER (ORDER BY u) AS DOUBLE) AS i,
    count(*) OVER () AS n
  FROM src
), a AS (
  SELECT max(n) AS n,
    CAST(sum(CAST(floor(((2.0 * i - 1.0) / (2.0 * n) - u)
      * ((2.0 * i - 1.0) / (2.0 * n) - u) * 1048576.0) AS BIGINT))
      AS BIGINT) / 1048576.0 AS s
  FROM r
), f AS (
  SELECT n, 1.0 / (12.0 * n) + s AS w2 FROM a
)
SELECT CAST(n AS BIGINT) AS n, round(w2, 6) AS w2,
  CAST(w2 > 0.461 AS INTEGER) AS reject_w2_5pct
FROM f
""")
def q_cvm_one_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Cramér–von Mises GOF of the event values against
    Uniform(0, 500) — W² from exact grid order-statistic terms."""
    from from_superset_to_clickhouse_spark.operators.stats import cvm_uniform

    ev = _ev(spark, sf_dir)
    return cvm_uniform(ev, "value", 0.0, 500.0).select(
        "n", "w2", "reject_w2_5pct"
    )


@register("watson_u2", oracle="""
-- Same W² terms plus the rotation correction n(ū − ½)².
WITH src AS (
  SELECT least(greatest(CAST(value AS DOUBLE) / 500.0, 0.0), 1.0) AS u
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT u, CAST(row_number() OVER (ORDER BY u) AS DOUBLE) AS i,
    count(*) OVER () AS n
  FROM src
), a AS (
  SELECT max(n) AS n,
    CAST(sum(CAST(floor(((2.0 * i - 1.0) / (2.0 * n) - u)
      * ((2.0 * i - 1.0) / (2.0 * n) - u) * 1048576.0) AS BIGINT))
      AS BIGINT) / 1048576.0 AS s,
    CAST(sum(CAST(floor(u * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS su
  FROM r
), f AS (
  SELECT n, 1.0 / (12.0 * n) + s
    - n * (su / n - 0.5) * (su / n - 0.5) AS u2
  FROM a
)
SELECT CAST(n AS BIGINT) AS n, round(u2, 6) AS u2,
  CAST(u2 > 0.187 AS INTEGER) AS reject_u2_5pct
FROM f
""")
def q_watson_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watson's rotation-invariant U² on the same Uniform(0, 500)
    null — the circular variant of the W² entry above."""
    from from_superset_to_clickhouse_spark.operators.stats import cvm_uniform

    ev = _ev(spark, sf_dir)
    return cvm_uniform(ev, "value", 0.0, 500.0).select(
        "n", "u2", "reject_u2_5pct"
    )


@register("lilliefors", oracle=(
    """
-- Same grid moments (HUGEINT-exact squared sum), mirrored-tail erf
-- polynomial Phi, same order-statistic D and Stephens decision.
WITH src AS (
  SELECT floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT count(*) AS n,
    CAST(sum(CAST(floor(v * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS s1,
    CAST(CAST(sum(CAST(CAST(floor(v * v * 1048576.0) AS BIGINT)
      AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS s2
  FROM src
), ms AS (
  SELECT n, s1 / n AS mean,
    sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1.0)) AS sd
  FROM m
), r AS (
  SELECT v, CAST(row_number() OVER (ORDER BY v) AS DOUBLE) AS i,
    n, mean, sd, (v - mean) / sd AS z
  FROM src, ms
), ph AS (
  SELECT i, n, mean, sd,
    CASE WHEN z >= 0 THEN 1.0 - (""" + _SF_POLY.format(
    t="(1.0 / (1.0 + 0.3275911 * (z / sqrt(2.0))))",
    x="(z / sqrt(2.0))") + """)
    ELSE (""" + _SF_POLY.format(
    t="(1.0 / (1.0 + 0.3275911 * ((-z) / sqrt(2.0))))",
    x="((-z) / sqrt(2.0))") + """) END AS phi
  FROM r
), d AS (
  SELECT max(n) AS n, max(mean) AS mean, max(sd) AS sd,
    max(greatest(i / n - phi, phi - (i - 1.0) / n)) AS dd
  FROM ph
), f AS (
  SELECT n, mean, sd, dd,
    dd * (sqrt(CAST(n AS DOUBLE)) - 0.01
      + 0.85 / sqrt(CAST(n AS DOUBLE))) AS dmod
  FROM d
)
SELECT CAST(n AS BIGINT) AS n, round(mean, 6) AS mean,
  round(sd, 6) AS sd, round(dd, 6) AS d_stat,
  round(dmod, 6) AS d_mod,
  CAST(dmod > 0.895 AS INTEGER) AS reject_5pct
FROM f
"""
))
def q_lilliefors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors KS-normality of the event values (estimated mean/sd,
    Stephens-modified decision) — clearly non-normal, must reject."""
    from from_superset_to_clickhouse_spark.operators.stats import lilliefors

    return lilliefors(_ev(spark, sf_dir), "value")


@register("cucconi", oracle="""
-- Same combined midranks, exact x4 squared-rank sums, exp(-C) p.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
), r AS (
  SELECT g,
    CAST(rank() OVER (ORDER BY v) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY v) AS DOUBLE) - 1.0) / 2.0
      AS r
  FROM src
), a AS (
  SELECT
    count(*) FILTER (g = 'purchase') AS na,
    count(*) FILTER (g = 'click') AS nb,
    sum(r * r * 4.0) FILTER (g = 'purchase') / 4.0 AS sr2,
    sum(r * 2.0) FILTER (g = 'purchase') / 2.0 AS sr
  FROM r
), c AS (
  SELECT na, nb,
    CAST(na AS DOUBLE) + nb AS nn,
    (6.0 * sr2 - na * (CAST(na AS DOUBLE) + nb + 1.0)
      * (2.0 * (CAST(na AS DOUBLE) + nb) + 1.0))
      / sqrt(CAST(na AS DOUBLE) * nb * (CAST(na AS DOUBLE) + nb + 1.0)
        * (2.0 * (CAST(na AS DOUBLE) + nb) + 1.0)
        * (8.0 * (CAST(na AS DOUBLE) + nb) + 11.0) / 5.0) AS u,
    (6.0 * (na * (CAST(na AS DOUBLE) + nb + 1.0)
        * (CAST(na AS DOUBLE) + nb + 1.0)
      - 2.0 * (CAST(na AS DOUBLE) + nb + 1.0) * sr + sr2)
      - na * (CAST(na AS DOUBLE) + nb + 1.0)
      * (2.0 * (CAST(na AS DOUBLE) + nb) + 1.0))
      / sqrt(CAST(na AS DOUBLE) * nb * (CAST(na AS DOUBLE) + nb + 1.0)
        * (2.0 * (CAST(na AS DOUBLE) + nb) + 1.0)
        * (8.0 * (CAST(na AS DOUBLE) + nb) + 11.0) / 5.0) AS v
  FROM a
), f AS (
  SELECT na, nb, u, v,
    2.0 * (nn * nn - 4.0) / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0))
      - 1.0 AS rho
  FROM c
), g AS (
  SELECT na, nb, u, v,
    (u * u + v * v - 2.0 * rho * u * v)
      / (2.0 * (1.0 - rho * rho)) AS cs
  FROM f
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(u, 6) AS u_stat, round(v, 6) AS v_stat,
  round(cs, 6) AS c_stat, round(exp(-cs), 6) AS p_value,
  CAST(exp(-cs) < 0.05 AS INTEGER) AS reject_5pct
FROM g
""")
def q_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi joint location-scale test between purchase and click
    values — squared/contra midrank sums, asymptotic exp(−C) p."""
    from from_superset_to_clickhouse_spark.operators.stats import cucconi_test

    return cucconi_test(
        _ev(spark, sf_dir), "event_type", "purchase", "click", "value"
    )


@register("moses", oracle="""
-- Same (value, group) combined ranking, h=2 trims, stars-and-bars
-- span p via the 2^40 ln-grid recurrence (HUGEINT-exact cumsums).
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
), r AS (
  SELECT g, v, row_number() OVER (ORDER BY v, g) AS rnk FROM src
), gr AS (
  SELECT g, v, rnk,
    row_number() OVER (PARTITION BY g ORDER BY v, rnk) AS grank
  FROM r
), cnt AS (
  SELECT count(*) FILTER (g = 'view') AS nc,
    count(*) FILTER (g = 'purchase') AS ne
  FROM src
), kept AS (
  SELECT gr.* FROM gr, cnt
  WHERE g = 'purchase' OR (grank > 2 AND grank <= nc - 2)
), sp AS (
  SELECT min(rnk) AS rlo, max(rnk) AS rhi FROM kept WHERE g = 'view'
), gin AS (
  SELECT count(*) AS gi FROM kept, sp
  WHERE g = 'purchase' AND rnk > rlo AND rnk < rhi
), base AS (
  SELECT nc, ne, gi, nc - 4 AS c FROM cnt, gin
), dsp AS (
  SELECT ne, c, unnest(range(1, c + 1)) AS j FROM base
), lnc AS (
  SELECT ne, c,
    sum(CAST(CAST(floor(ln(CAST(ne + j AS DOUBLE)) * 1099511627776.0)
      AS BIGINT) AS HUGEINT)
      - CAST(CAST(floor(ln(CAST(j AS DOUBLE)) * 1099511627776.0)
      AS BIGINT) AS HUGEINT)) AS lc
  FROM dsp GROUP BY ne, c
), wsp AS (
  SELECT nc, ne, gi, c, unnest(range(0, gi + 1)) AS i FROM base
), st AS (
  SELECT nc, ne, gi, c, i,
    CASE WHEN i = 0 THEN 0
    ELSE CAST(floor(ln(CAST(i + c - 2 AS DOUBLE)) * 1099511627776.0)
        AS BIGINT)
      - CAST(floor(ln(CAST(i AS DOUBLE)) * 1099511627776.0) AS BIGINT)
      + CAST(floor(ln(CAST(ne - i + 1 AS DOUBLE)) * 1099511627776.0)
        AS BIGINT)
      - CAST(floor(ln(CAST(ne - i + 2 AS DOUBLE)) * 1099511627776.0)
        AS BIGINT)
    END AS step
  FROM wsp
), cw AS (
  SELECT nc, ne, gi, c, i,
    CAST(floor(ln(CAST(ne + 1 AS DOUBLE)) * 1099511627776.0) AS BIGINT)
      + sum(CAST(step AS HUGEINT)) OVER (
        PARTITION BY c ORDER BY i
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnw
  FROM st
), p AS (
  SELECT nc, ne, gi, c,
    sum(CAST(floor(exp(CAST(lnw - lc AS DOUBLE) / 1099511627776.0)
      * 1099511627776.0) AS BIGINT)) / 1099511627776.0 AS pp
  FROM cw JOIN lnc USING (ne, c)
  GROUP BY nc, ne, gi, c
)
SELECT CAST(nc AS BIGINT) AS n_c, CAST(ne AS BIGINT) AS n_e,
  CAST(c + gi AS BIGINT) AS span, CAST(gi AS BIGINT) AS excess,
  round(least(pp, 1.0), 6) AS p_value,
  CAST(least(pp, 1.0) < 0.05 AS INTEGER) AS reject_5pct
FROM p
""")
def q_moses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moses extreme-reactions test: purchase values as the
    experimental group against view controls, h = 2 trimmed from each
    control tail — exact stars-and-bars span p-value."""
    from from_superset_to_clickhouse_spark.operators.stats import moses_test

    return moses_test(
        _ev(spark, sf_dir), "event_type", "view", "purchase", "value", h=2
    )


@register("jonckheere", oracle="""
-- Same bounded pair fan-out, per-pair midranks, exact x2 rank sums,
-- untied-variance normal approximation.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), pairs AS (
  SELECT l.g AS a, r.g AS b
  FROM (SELECT DISTINCT g FROM src) l, (SELECT DISTINCT g FROM src) r
  WHERE l.g < r.g
), fan AS (
  SELECT p.a, p.b, s.g, s.v FROM src s JOIN pairs p
  ON s.g = p.a OR s.g = p.b
), r AS (
  SELECT a, b, g,
    CAST(rank() OVER (PARTITION BY a, b ORDER BY v) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY a, b, v) AS DOUBLE) - 1.0)
        / 2.0 AS r
  FROM fan
), per AS (
  SELECT a, b,
    sum(r * 2.0) FILTER (g = b) / 2.0 AS rb,
    count(*) FILTER (g = b) AS nb
  FROM r GROUP BY a, b
), j AS (
  SELECT sum((rb - CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) + 1.0)
    / 2.0) * 2.0) / 2.0 AS js
  FROM per
), sz AS (
  SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS nn,
    CAST(sum(ni * ni) AS BIGINT) AS s2,
    CAST(sum(ni * ni * (2 * ni + 3)) AS BIGINT) AS s3
  FROM (SELECT g, count(*) AS ni FROM src GROUP BY g)
), f AS (
  SELECT k, nn, js,
    (CAST(nn AS DOUBLE) * nn - s2) / 4.0 AS mu,
    (CAST(nn AS DOUBLE) * nn * (2.0 * nn + 3.0) - s3) / 72.0 AS var
  FROM j, sz
)
SELECT CAST(k AS BIGINT) AS k_groups, nn AS n,
  round(js, 6) AS j_stat, round(mu, 6) AS mean_null,
  round(CASE WHEN var > 0 THEN (js - mu) / sqrt(var) END, 6) AS z_stat,
  CAST(abs(CASE WHEN var > 0 THEN (js - mu) / sqrt(var) END) > 1.96
    AS INTEGER) AS reject_5pct
FROM f
""")
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternatives test across the five
    event types (lexicographic order) — pairwise midrank U's summed,
    untied normal approximation."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        jonckheere_terpstra,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    return jonckheere_terpstra(ev, "event_type", "value")


@register("quade", oracle="""
-- Same ISO-week blocks, range-weighted midranks, exact x16 forms.
WITH blocks AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS b, event_type AS t,
    avg(CAST(value AS DOUBLE)) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), src AS (
  SELECT b, t, floor(v * 1048576.0) AS vq FROM blocks
  WHERE v IS NOT NULL
), kk AS (SELECT count(DISTINCT t) AS k FROM src),
full_b AS (
  SELECT b FROM src, kk GROUP BY b, k HAVING count(DISTINCT t) = k
), s2 AS (
  SELECT s.* FROM src s JOIN full_b USING (b)
), r AS (
  SELECT b, t, vq,
    CAST(rank() OVER (PARTITION BY b ORDER BY vq) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY b, vq) AS DOUBLE) - 1.0)
        / 2.0 AS r
  FROM s2
), rng AS (
  SELECT b, max(vq) - min(vq) AS rg FROM s2 GROUP BY b
), q AS (
  SELECT b,
    CAST(rank() OVER (ORDER BY rg) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY rg) AS DOUBLE) - 1.0) / 2.0
      AS q
  FROM rng
), s AS (
  SELECT r.b, r.t, q.q * (r.r - (CAST(k AS DOUBLE) + 1.0) / 2.0) AS s,
    k
  FROM r JOIN q USING (b), kk
), sj AS (
  SELECT t, k, sum(s * 4.0) / 4.0 AS sj,
    sum(s * s * 16.0) / 16.0 AS a_t, count(*) AS nb
  FROM s GROUP BY t, k
), agg AS (
  SELECT k, max(nb) AS n, sum(sj * sj * 16.0) / 16.0 AS b2,
    sum(a_t) AS a
  FROM sj GROUP BY k
), f AS (
  SELECT k, n, a, b2 / n AS bb FROM agg
)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
  round(CASE WHEN a > bb THEN (n - 1.0) * bb / (a - bb) END, 6)
    AS f_stat,
  CAST(k - 1 AS BIGINT) AS df1,
  CAST((n - 1) * (k - 1) AS BIGINT) AS df2
FROM f
""")
def q_quade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test of the five event types over ISO-week blocks of
    mean value — range-weighted within-block ranks, F readout."""
    from from_superset_to_clickhouse_spark.operators.stats import quade_test

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    blocks = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        "event_type",
    ).agg(F.avg("value").alias("v"))
    return quade_test(blocks, "wk", "event_type", "v")


# ---------------------------------------------------------------------------
# Epidemiology / economics / survival.


@register("smr_byar", oracle="""
-- Same exact counts, same Byar cube CI arithmetic.
WITH per AS (
  SELECT event_type AS g, count(*) AS n,
    count(*) FILTER (value > 300) AS o
  FROM events WHERE value IS NOT NULL GROUP BY 1
), tot AS (
  SELECT CAST(count(*) FILTER (value > 300) AS DOUBLE) / count(*)
    AS rate
  FROM events WHERE value IS NOT NULL
), b AS (
  SELECT g, o, CAST(n AS DOUBLE) * rate AS e,
    CAST(o AS DOUBLE) AS od, CAST(o AS DOUBLE) + 1.0 AS o1
  FROM per, tot
), c AS (
  SELECT g, o, e, od / e AS smr,
    CASE WHEN o > 0 THEN od * pow(1.0 - 1.0 / (9.0 * od)
      - 1.96 / (3.0 * sqrt(od)), 3.0) / e ELSE 0.0 END AS lo,
    o1 * pow(1.0 - 1.0 / (9.0 * o1)
      + 1.96 / (3.0 * sqrt(o1)), 3.0) / e AS hi
  FROM b
)
SELECT g, CAST(o AS BIGINT) AS obs, round(e, 6) AS expected,
  round(smr, 6) AS smr, round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi,
  CAST(lo > 1.0 OR hi < 1.0 AS INTEGER) AS sig_5pct
FROM c
""")
def q_smr_byar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized high-value-event ratio per event type: observed
    value>300 counts vs size×overall-rate expectation, Byar 95% CI."""
    from from_superset_to_clickhouse_spark.operators.stats import smr_byar

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    per = ev.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.count(F.when(F.col("value") > 300, 1)).alias("_o"),
    )
    tot = ev.agg(
        (
            F.count(F.when(F.col("value") > 300, 1)).cast("double")
            / F.count("*")
        ).alias("_rate")
    )
    per = per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("_o").alias("obs"),
        (F.col("_n").cast("double") * F.col("_rate")).alias("exp"),
    )
    return smr_byar(per, "event_type", "obs", "exp")


@register("suits", oracle="""
-- Same grid customer curve, same (income, tax) ordering, same 2^-40
-- trapezoid grid.
WITH per AS (
  SELECT o_custkey,
    CAST(sum(CAST(floor(o_totalprice * 1048576.0) AS BIGINT))
      AS BIGINT) / 1048576.0 AS inc,
    CAST(sum(CAST(floor(l_extendedprice * l_tax * 1048576.0)
      AS BIGINT)) AS BIGINT) / 1048576.0 AS tax
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
), tot AS (
  SELECT count(*) AS n,
    CAST(CAST(sum(CAST(CAST(inc * 1048576.0 AS BIGINT) AS HUGEINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS ti,
    CAST(CAST(sum(CAST(CAST(tax * 1048576.0 AS BIGINT) AS HUGEINT))
      AS VARCHAR) AS DOUBLE) / 1048576.0 AS tt
  FROM per
), c AS (
  SELECT inc, tax,
    CAST(CAST(sum(CAST(CAST(inc * 1048576.0 AS BIGINT) AS HUGEINT))
      OVER w AS VARCHAR) AS DOUBLE) / 1048576.0 AS ci,
    CAST(CAST(sum(CAST(CAST(tax * 1048576.0 AS BIGINT) AS HUGEINT))
      OVER w AS VARCHAR) AS DOUBLE) / 1048576.0 AS ct
  FROM per
  WINDOW w AS (ORDER BY inc, tax
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT n, ti, tt,
    sum(CAST(floor((ci / ti - (ci - inc) / ti)
      * (ct / tt + (ct - tax) / tt) * 1099511627776.0) AS BIGINT))
      AS a2
  FROM c, tot GROUP BY n, ti, tt
)
SELECT CAST(n AS BIGINT) AS n, round(ti, 6) AS total_income,
  round(tt, 6) AS total_tax,
  round(1.0 - CAST(a2 AS DOUBLE) / 1099511627776.0, 6) AS suits
FROM t
""")
def q_suits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suits progressivity index of lineitem tax against customer
    order value — trapezoid concentration integral over the
    (income, tax)-ordered customer curve."""
    from from_superset_to_clickhouse_spark.operators.stats import suits_index

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    q = 1048576.0
    per = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            # grid each term BEFORE the per-customer sum: a raw IEEE
            # double sum is accumulation-order-dependent and the two
            # engines would grid-flip at boundaries
            (F.sum(F.floor(F.col("o_totalprice") * q)) / q).alias(
                "income"
            ),
            (
                F.sum(
                    F.floor(F.col("l_extendedprice") * F.col("l_tax") * q)
                )
                / q
            ).alias("tax"),
        )
    )
    return suits_index(per, "income", "tax")


@register("aalen_johansen", oracle="""
-- Same competing first-outcome lifetimes, same reverse-cumsum risk
-- sets, same exp(cumsum(ln)) all-cause survival and ordered CIF
-- cumsums.
WITH life AS (
  SELECT user_id, min(ts) AS f, max(ts) AS l,
    min(ts) FILTER (event_type = 'purchase') AS tp,
    min(ts) FILTER (event_type = 'error') AS te
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), lc0 AS (
  SELECT f, l, tp, te,
    CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN tp
      ELSE te END AS fo
  FROM life
), lc AS (
  SELECT CAST(floor(CAST(epoch(coalesce(fo, l)) - epoch(f) AS DOUBLE)
      / 3600) AS BIGINT) AS t,
    CASE WHEN fo IS NULL THEN 0
      WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
      ELSE 2 END AS c
  FROM lc0
), per_t AS (
  SELECT t, count(*) AS n_t, count(*) FILTER (c != 0) AS d_all
  FROM lc GROUP BY t
), base AS (
  SELECT t, n_t, d_all,
    sum(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND
      UNBOUNDED FOLLOWING) AS n_risk
  FROM per_t
), sm AS (
  SELECT t, n_risk,
    exp(coalesce(sum(CASE WHEN d_all > 0 AND d_all < n_risk
      THEN ln(1.0 - CAST(d_all AS DOUBLE) / CAST(n_risk AS DOUBLE))
      ELSE 0.0 END) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0))
      AS s_minus
  FROM base
), per_tc AS (
  SELECT t, c, count(*) AS d_c FROM lc WHERE c != 0 GROUP BY t, c
), j AS (
  SELECT p.t, p.c, s.n_risk, p.d_c,
    s.s_minus * CAST(p.d_c AS DOUBLE) / CAST(s.n_risk AS DOUBLE)
      AS inc
  FROM per_tc p JOIN sm s USING (t)
)
SELECT CAST(t AS BIGINT) AS t, CAST(c AS INTEGER) AS cause,
  CAST(n_risk AS BIGINT) AS n_risk, CAST(d_c AS BIGINT) AS d_cause,
  round(sum(inc) OVER (PARTITION BY c ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cif
FROM j
""")
def q_aalen_johansen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen–Johansen cumulative incidence of two COMPETING first
    outcomes per user — hours from the first event to whichever of
    first purchase (cause 1) or first error (cause 2) comes sooner
    (ties to purchase; users with neither are censored, cause 0) —
    all-cause KM survival weighting per cause, the estimator 1−KM
    per cause overstates."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        aalen_johansen,
    )

    ev = _ev(spark, sf_dir).filter(F.col("user_id").isNotNull())
    life = ev.groupBy("user_id").agg(
        F.min("ts").alias("_f"),
        F.max("ts").alias("_l"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "_tp"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias(
            "_te"
        ),
    )
    first_out = F.when(
        F.col("_tp").isNotNull()
        & (F.col("_te").isNull() | (F.col("_tp") <= F.col("_te"))),
        F.col("_tp"),
    ).otherwise(F.col("_te"))
    cause = (
        F.when(first_out.isNull(), F.lit(0))
        .when(
            F.col("_tp").isNotNull()
            & (F.col("_te").isNull() | (F.col("_tp") <= F.col("_te"))),
            F.lit(1),
        )
        .otherwise(F.lit(2))
    )
    dur = F.floor(
        (
            F.unix_timestamp(F.coalesce(first_out, F.col("_l")))
            - F.unix_timestamp(F.col("_f"))
        )
        / 3600
    )
    life = life.select(dur.alias("dur"), cause.cast("int").alias("cause"))
    return aalen_johansen(life, "dur", "cause")


# ---------------------------------------------------------------------------
# OHLC-bar indicators (daily bars from the shared min_by/max_by
# ohlc_bars program; SQL twin = row_number open/close, the _OHLC_SQL
# discipline).

_BARS_1D_SQL = """
  SELECT event_type AS k, time_bucket(INTERVAL '1 day', ts) AS b,
    max(CASE WHEN rn_a = 1 THEN value END) AS o,
    max(value) AS h, min(value) AS l,
    max(CASE WHEN rn_d = 1 THEN value END) AS c,
    count(*) AS vol
  FROM (
    SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS bs,
      ts, event_id, value,
      row_number() OVER (PARTITION BY event_type,
        time_bucket(INTERVAL '1 day', ts)
        ORDER BY ts, event_id) AS rn_a,
      row_number() OVER (PARTITION BY event_type,
        time_bucket(INTERVAL '1 day', ts)
        ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events)
  GROUP BY 1, 2
"""


@register("chaikin_mf", oracle="""
-- Same bars, same grid MFV, same trailing-10 exact sums.
WITH bars AS (""" + _BARS_1D_SQL + """),
m AS (
  SELECT k, b, vol,
    floor(CASE WHEN h > l THEN ((c - l) - (h - c)) / (h - l)
      ELSE 0.0 END * vol * 1048576.0) / 1048576.0 AS mfv
  FROM bars
), w AS (
  SELECT k, b,
    count(*) OVER wf AS cnt,
    sum(mfv * 1048576.0) OVER wf / 1048576.0 AS smfv,
    sum(vol) OVER wf AS svol
  FROM m
  WINDOW wf AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT k AS event_type, b AS bar_start,
  round(CASE WHEN cnt >= 10
    THEN smfv / CAST(svol AS DOUBLE) END, 6) AS cmf
FROM w
""")
def q_chaikin_mf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin money flow over daily per-type OHLC(+volume) bars,
    period 10 — grid-exact money-flow-volume trailing sums."""
    ev = _ev(spark, sf_dir)
    return tmp.chaikin_money_flow(
        ev, "event_type", "ts", "value", "event_id", bar="1 day", period=10
    )


@register("vortex", oracle="""
-- Same bars, same grid VM/TR terms, same trailing-10 exact sums.
WITH bars AS (""" + _BARS_1D_SQL + """),
lg AS (
  SELECT k, b, h, l, c,
    lag(h) OVER wo AS ph, lag(l) OVER wo AS pl, lag(c) OVER wo AS pc
  FROM bars WINDOW wo AS (PARTITION BY k ORDER BY b)
), t AS (
  SELECT k, b,
    floor(abs(h - pl) * 1048576.0) / 1048576.0 AS vmp,
    floor(abs(l - ph) * 1048576.0) / 1048576.0 AS vmm,
    CASE WHEN pc IS NOT NULL THEN
      floor(greatest(h - l, abs(h - pc), abs(l - pc)) * 1048576.0)
        / 1048576.0 END AS tr
  FROM lg
), w AS (
  SELECT k, b,
    count(tr) OVER wf AS cnt,
    sum(tr * 1048576.0) OVER wf / 1048576.0 AS str,
    sum(vmp * 1048576.0) OVER wf / 1048576.0 AS svp,
    sum(vmm * 1048576.0) OVER wf / 1048576.0 AS svm
  FROM t
  WINDOW wf AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT k AS event_type, b AS bar_start,
  round(CASE WHEN cnt >= 10 AND str > 0 THEN svp / str END, 6)
    AS vi_plus,
  round(CASE WHEN cnt >= 10 AND str > 0 THEN svm / str END, 6)
    AS vi_minus
FROM w
""")
def q_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator VI+/VI− over daily per-type bars, period 10 —
    grid-floored VM/TR terms, exact trailing sums."""
    ev = _ev(spark, sf_dir)
    return tmp.vortex_indicator(
        ev, "event_type", "ts", "value", "event_id", bar="1 day", period=10
    )


def _st_walk_sql() -> str:
    """The supertrend ratchet step as three columns of a recursive
    walk over the ready bars: each reads only the previous ready bar's
    row ``s`` and this bar ``x``. No state travels through a struct
    accumulator, where DuckDB 1.0's list_reduce can let a field read a
    slot its sibling already overwrote (pinned in
    tests/test_fold_twins.py; seen here on the 'error' series at
    sf0.01 once the query is filtered)."""
    nub = "(CASE WHEN x.bu < s.ub OR s.cq > s.ub THEN x.bu ELSE s.ub END)"
    nlb = "(CASE WHEN x.bl > s.lb OR s.cq < s.lb THEN x.bl ELSE s.lb END)"
    nst = (
        f"(CASE WHEN s.st = s.ub THEN "
        f"(CASE WHEN x.cq <= {nub} THEN {nub} ELSE {nlb} END) "
        f"ELSE (CASE WHEN x.cq >= {nlb} THEN {nlb} ELSE {nub} END) END)"
    )
    return f"{nub} AS ub, {nlb} AS lb, {nst} AS st"


@register("supertrend", oracle="""
-- Same SMA(5)-ATR bands on the 2^-20 grid, same ratchet, walked over
-- the ready (ATR-defined) bars per key: the first seeds its bands,
-- each later one ratchets the previous bar's (WITH RECURSIVE).
WITH RECURSIVE bars AS (""" + _BARS_1D_SQL + """),
lg AS (
  SELECT k, b, h, l, c, lag(c) OVER wo AS pc
  FROM bars WINDOW wo AS (PARTITION BY k ORDER BY b)
), t AS (
  SELECT k, b, h, l, c,
    floor(greatest(h - l, coalesce(abs(h - pc), h - l),
      coalesce(abs(l - pc), h - l)) * 1048576.0) / 1048576.0 AS tr
  FROM lg
), a AS (
  SELECT k, b, h, l, c,
    CASE WHEN count(tr) OVER wp >= 5 THEN
      floor((sum(tr * 1048576.0) OVER wp / 1048576.0) / 5.0
        * 1048576.0) / 1048576.0 END AS atr
  FROM t
  WINDOW wp AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
), e AS (
  SELECT k, b, row_number() OVER (PARTITION BY k ORDER BY b) AS j,
    floor(((h + l) / 2.0 + 2.0 * atr) * 1048576.0) / 1048576.0 AS bu,
    floor(((h + l) / 2.0 - 2.0 * atr) * 1048576.0) / 1048576.0 AS bl,
    floor(c * 1048576.0) / 1048576.0 AS cq
  FROM a WHERE atr IS NOT NULL
), walk AS (
  SELECT k, j, bu AS ub, bl AS lb,
    CASE WHEN cq <= bu THEN bu ELSE bl END AS st, cq
  FROM e WHERE j = 1
  UNION ALL
  SELECT x.k, x.j, """ + _st_walk_sql() + """, x.cq
  FROM walk s JOIN e x ON x.k = s.k AND x.j = s.j + 1
)
SELECT a.k AS event_type, a.b AS bar_start,
  round(w.st, 6) AS supertrend,
  CASE WHEN w.st IS NOT NULL THEN
    CASE WHEN w.st = w.ub THEN 'down' ELSE 'up' END END AS direction
FROM a LEFT JOIN e ON e.k = a.k AND e.b = a.b
  LEFT JOIN walk w ON w.k = e.k AND w.j = e.j
""")
def q_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend(5, 2.0) trailing stop over daily per-type bars —
    the band-ratchet recursion unrolled as a grid-exact fold, twin
    replayed as a recursive DuckDB walk over the bars."""
    ev = _ev(spark, sf_dir)
    return tmp.supertrend(
        ev, "event_type", "ts", "value", "event_id",
        bar="1 day", period=5, mult=2.0,
    )


# ---------------------------------------------------------------------------
# Graph community / brokerage, multi-needle decontamination, and the
# real compressed-audio codec.


@register("louvain_move", oracle="""
-- Same canonical edges, exact integer gains, (gain, -j) argmax,
-- same modularity rollup arithmetic.
WITH d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 300 AS s, (doc_id * 11 + 1) % 300 AS t FROM d
  UNION ALL
  SELECT doc_id % 300, (doc_id * 17 + 2) % 300 FROM d
  UNION ALL
  SELECT doc_id % 20, (doc_id // 20) % 20 FROM d WHERE doc_id < 400
), e AS MATERIALIZED (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM raw
  WHERE least(s, t) < greatest(s, t)
), m AS (SELECT count(*) AS m FROM e),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS dg
  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n
), nbr AS (
  SELECT a AS i, b AS j FROM e UNION ALL SELECT b, a FROM e
), gains AS (
  SELECT nbr.i, nbr.j, 2 * m.m - di.dg * dj.dg AS g
  FROM nbr, m
  JOIN deg di ON di.n = nbr.i
  JOIN deg dj ON dj.n = nbr.j
), best AS (
  SELECT i,
    CASE WHEN struct_extract(mx, 'g') > 0
      THEN -struct_extract(mx, 'nj') ELSE i END AS community
  FROM (SELECT i, max({'g': g, 'nj': -j}) AS mx FROM gains GROUP BY i)
), dsum AS (
  SELECT community AS c, CAST(count(*) AS BIGINT) AS n_nodes,
    CAST(sum(dg) AS BIGINT) AS d_tot
  FROM best JOIN deg ON deg.n = best.i GROUP BY community
), ein AS (
  SELECT ba.community AS c, CAST(count(*) AS BIGINT) AS e_in
  FROM e
  JOIN best ba ON ba.i = e.a
  JOIN best bb ON bb.i = e.b
  WHERE ba.community = bb.community
  GROUP BY ba.community
)
SELECT d.c AS community, d.n_nodes,
  coalesce(ein.e_in, 0) AS e_in, d.d_tot,
  round(CAST(coalesce(ein.e_in, 0) AS DOUBLE) / m.m
    - (CAST(d.d_tot AS DOUBLE) / (2.0 * m.m))
      * (CAST(d.d_tot AS DOUBLE) / (2.0 * m.m)), 6) AS q_term
FROM dsum d LEFT JOIN ein ON ein.c = d.c, m
""")
def q_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Louvain move from singletons on the skewed
    test graph, rolled up to per-community modularity terms — exact
    integer gains (2m − deg·deg), ties to the smallest neighbor."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        louvain_move,
        modularity,
    )

    edges = _kcore_edges(spark, sf_dir)
    asg = louvain_move(edges)
    return modularity(edges, asg)


@register("aho_corasick", oracle="""
-- Replace-length occurrence counts (the needles cannot self-overlap,
-- so overlapping == non-overlapping) + strpos first positions.
WITH needles AS (
  SELECT unnest(['the', 'data', 'tion', 'and']) AS needle
), c AS (
  SELECT d.doc_id, n.needle,
    CAST((length(d.text) - length(replace(d.text, n.needle, '')))
      / length(n.needle) AS BIGINT) AS n_matches,
    CAST(strpos(d.text, n.needle) AS BIGINT) AS first_pos
  FROM documents d, needles n
)
SELECT doc_id, needle, n_matches, first_pos
FROM c WHERE n_matches > 0
""")
def q_aho_corasick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aho–Corasick one-pass multi-needle scan of the documents for
    four non-self-overlapping stopword/term needles — per-(doc,
    needle) occurrence counts and first positions; the SQL twin
    recounts via the replace-length trick + strpos."""
    from from_superset_to_clickhouse_spark.operators.text import (
        multi_needle_match,
    )

    d = _docs(spark, sf_dir)
    return multi_needle_match(d, ["the", "data", "tion", "and"])


def _adpcm_sql() -> str:
    """16 unrolled IMA-ADPCM decoder steps: per doc, nibble_j is
    closed-form, each step is integer table lookups + the bit-serial
    diff + clamps — the full codec replayed in SQL."""
    from from_superset_to_clickhouse_spark.operators.multimodal import (
        IMA_INDEX_TABLE,
        IMA_STEP_TABLE,
    )

    steps = "[" + ", ".join(str(s) for s in IMA_STEP_TABLE) + "]"
    idxs = "[" + ", ".join(str(i) for i in IMA_INDEX_TABLE) + "]"
    parts = [
        f"""
s0 AS (
  SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS p0,
    CAST(doc_id % 20 AS INTEGER) AS x0
  FROM documents
)"""
    ]
    for j in range(1, 17):
        prev = f"s{j - 1}j" if j > 1 else "s0"
        parts.append(f"""
s{j} AS MATERIALIZED (
  SELECT media_id, p{j - 1}, x{j - 1},
    CAST((7 * media_id + 3 * {j - 1}) % 16 AS INTEGER) AS nb,
    list_extract({steps}, x{j - 1} + 1) AS st
  FROM {prev}
), t{j} AS (
  SELECT media_id,
    (st >> 3) + CASE WHEN nb & 1 = 1 THEN st >> 2 ELSE 0 END
      + CASE WHEN nb & 2 = 2 THEN st >> 1 ELSE 0 END
      + CASE WHEN nb & 4 = 4 THEN st ELSE 0 END AS df,
    nb, p{j - 1}, x{j - 1}
  FROM s{j}
), u{j} AS (
  SELECT media_id,
    CAST(greatest(-32768, least(32767,
      CASE WHEN nb & 8 = 8 THEN p{j - 1} - df
        ELSE p{j - 1} + df END)) AS INTEGER) AS p{j},
    CAST(greatest(0, least(88,
      x{j - 1} + list_extract({idxs}, nb + 1))) AS INTEGER) AS x{j}
  FROM t{j}
)""")
        parts.append(f"""
s{j}j AS MATERIALIZED (
  SELECT s.media_id, {", ".join(f"s.p{k}" for k in range(1, j))}
    {"," if j > 1 else ""} u.p{j}, u.x{j}
  FROM {"s" + str(j - 1) + "j" if j > 1 else "s0"} s
  JOIN u{j} u USING (media_id)
)""")
    cols = ", ".join(f"p{j}" for j in range(1, 17))
    absum = " + ".join(f"abs(p{j})" for j in range(1, 17))
    csv = " || ',' || ".join(f"CAST(p{j} AS VARCHAR)" for j in range(1, 17))
    return (
        "-- full 16-step IMA-ADPCM integer decode, tables inline\n"
        "WITH " + ",".join(parts) + f"""
SELECT media_id, CAST(16 AS BIGINT) AS n_samples,
  p1 AS first_sample, p16 AS last_sample,
  CAST({absum} AS BIGINT) AS sum_abs,
  {csv} AS samples_csv
FROM s16j
"""
    )


@register("adpcm_audio", oracle=_adpcm_sql())
def q_adpcm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA-ADPCM decode of per-doc planted nibble streams
    (nibbleᵢ = (7·id + 3·i) mod 16, step index id mod 20): the SQL
    twin replays all 16 integer decoder steps — step table lookups,
    bit-serial diff, int16/index clamps — so a single wrong table
    entry or clamp hash-mismatches."""
    from from_superset_to_clickhouse_spark.operators.multimodal import (
        adpcm_decode,
        synthesize_adpcm_streams,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    fix = synthesize_adpcm_streams(d, "doc_id")
    out = adpcm_decode(fix, "media_id", "payload", "idx0")
    return out.select(
        "media_id",
        "n_samples",
        "first_sample",
        "last_sample",
        "sum_abs",
        F.array_join(F.col("samples"), ",").alias("samples_csv"),
    )


def _betweenness_sql(hops: int = 8) -> str:
    """Unrolled Brandes twin: BFS layers f1..fH (sigma sums, visited
    anti-joins), then the backward dependency chain dlH..dl0 with the
    same 2^-20 contribution grid."""
    parts = ["""
d AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id % 24 AS s, (doc_id * 5 + 1) % 24 AS t FROM d
  UNION ALL
  SELECT doc_id % 24, (doc_id + 1) % 24 FROM d
), sym AS MATERIALIZED (
  SELECT DISTINCT u, w FROM (
    SELECT s AS u, t AS w FROM raw UNION ALL SELECT t, s FROM raw)
  WHERE u != w
), pv AS (SELECT unnest([0, 5, 11]) AS p),
f0 AS MATERIALIZED (
  SELECT p, p AS v, 0 AS dd, CAST(1 AS BIGINT) AS sigma FROM pv
), L0 AS MATERIALIZED (SELECT * FROM f0)"""]
    for h in range(1, hops + 1):
        parts.append(f"""
f{h} AS MATERIALIZED (
  SELECT f.p, e.w AS v, {h} AS dd, CAST(sum(f.sigma) AS BIGINT) AS sigma
  FROM f{h - 1} f JOIN sym e ON f.v = e.u
  WHERE NOT EXISTS (
    SELECT 1 FROM L{h - 1} vis WHERE vis.p = f.p AND vis.v = e.w)
  GROUP BY f.p, e.w
), L{h} AS MATERIALIZED (
  SELECT * FROM L{h - 1} UNION ALL SELECT * FROM f{h}
)""")
    parts.append(f"""
dl{hops} AS MATERIALIZED (
  SELECT p, v, 0.0 AS delta FROM L{hops} WHERE dd = {hops}
)""")
    for dd in range(hops - 1, -1, -1):
        parts.append(f"""
dl{dd} AS MATERIALIZED (
  SELECT cur.p, cur.v, coalesce(c.s, 0.0) AS delta
  FROM (SELECT * FROM L{hops} WHERE dd = {dd}) cur
  LEFT JOIN (
    SELECT c2.p, c2.v,
      sum(floor(CAST(c2.sigma AS DOUBLE) / CAST(nx.sigma AS DOUBLE)
        * (1.0 + nx.delta) * 1048576.0)) / 1048576.0 AS s
    FROM (SELECT * FROM L{hops} WHERE dd = {dd}) c2
    JOIN sym e ON c2.v = e.u
    JOIN (
      SELECT l.p, l.v, l.sigma, dn.delta
      FROM L{hops} l JOIN dl{dd + 1} dn ON dn.p = l.p AND dn.v = l.v
      WHERE l.dd = {dd + 1}) nx
      ON nx.p = c2.p AND nx.v = e.w
    GROUP BY c2.p, c2.v
  ) c ON c.p = cur.p AND c.v = cur.v
)""")
    un = " UNION ALL ".join(
        f"SELECT * FROM dl{dd}" for dd in range(0, hops + 1)
    )
    return (
        "-- unrolled Brandes: sigma BFS + grid-exact dependency sweep\n"
        "WITH " + ",".join(parts) + f"""
SELECT v AS node,
  round(sum(delta * 1048576.0) / 1048576.0 / 2.0, 6) AS betweenness
FROM ({un}) WHERE v != p GROUP BY v
"""
    )


@register("betweenness", oracle=_betweenness_sql())
def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count Brandes betweenness from 3 pivots over a
    24-node deterministic doc graph (ring + ×5 chords) — σ path
    counts forward, grid-exact dependency sweep backward; the twin
    unrolls both passes to 8 hops."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        betweenness_from_pivots,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    e1 = d.select(
        (F.col("doc_id") % 24).alias("src"),
        ((F.col("doc_id") * 5 + 1) % 24).alias("dst"),
    )
    e2 = d.select(
        (F.col("doc_id") % 24).alias("src"),
        ((F.col("doc_id") + 1) % 24).alias("dst"),
    )
    return betweenness_from_pivots(
        e1.unionByName(e2), [0, 5, 11], max_hops=8
    )


# ---------------------------------------------------------------------------
# Rank scale tests / heteroscedasticity / indicators / forecast
# accuracy / lexical richness / reliability.


@register("van_der_waerden", oracle="""
-- Same pooled midranks, shared Acklam probit scores, grid-floored
-- score sums, Wilson-Hilferty chi2 tail with the mirrored-erf sf.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), r AS (
  SELECT g,
    CAST(rank() OVER (ORDER BY v) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY v) AS DOUBLE) - 1.0) / 2.0
      AS r,
    count(*) OVER () AS nn
  FROM src
), sc AS (
  SELECT g, nn, """ + _probit_sql("r / (CAST(nn AS DOUBLE) + 1.0)") + """
    AS a
  FROM r
), per AS (
  SELECT g, nn, count(*) AS ng,
    CAST(sum(CAST(floor(a * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sa,
    CAST(sum(CAST(floor(a * a * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sa2
  FROM sc GROUP BY g, nn
), agg AS (
  SELECT nn, count(*) AS k,
    CAST(sum(CAST(floor(sa * sa / CAST(ng AS DOUBLE) * 1048576.0)
      AS BIGINT)) AS BIGINT) / 1048576.0 AS t1,
    sum(sa2) AS ssq
  FROM per GROUP BY nn
), f AS (
  SELECT k, nn, t1 / (ssq / (CAST(nn AS DOUBLE) - 1.0)) AS t,
    CAST(k - 1 AS DOUBLE) AS dof
  FROM agg
), wh AS (
  SELECT k, nn, t, dof,
    (pow(t / dof, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * dof)))
      / sqrt(2.0 / (9.0 * dof)) AS z
  FROM f
), et AS (
  SELECT k, nn, t, dof, z, abs(z) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
  FROM wh
), pv AS (
  SELECT k, nn, t, dof, z,
    (""" + _SF_POLY.format(t="tt", x="xx") + """) AS sfa
  FROM et
)
SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
  round(t, 6) AS t_stat, CAST(dof AS BIGINT) AS df,
  round(CASE WHEN k > 1 THEN
    CASE WHEN z >= 0 THEN sfa ELSE 1.0 - sfa END END, 6) AS p_value
FROM pv
""")
def q_van_der_waerden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Van der Waerden normal-scores location test across the five
    event types — probit midrank scores, Wilson-Hilferty chi2 tail."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        van_der_waerden,
    )

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    return van_der_waerden(ev, "event_type", "value")


@register("klotz", oracle="""
-- Same squared probit scores, exact permutation moments.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), r AS (
  SELECT g,
    CAST(rank() OVER (ORDER BY v) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY v) AS DOUBLE) - 1.0) / 2.0
      AS r,
    count(*) OVER () AS nn
  FROM src
), sc0 AS (
  SELECT g, nn, """ + _probit_sql("r / (CAST(nn AS DOUBLE) + 1.0)") + """
    AS a0
  FROM r
), sc AS (SELECT g, nn, a0 * a0 AS a FROM sc0),
agg AS (
  SELECT nn,
    count(*) FILTER (g = 'purchase') AS na,
    count(*) FILTER (g = 'view') AS nb,
    CAST(sum(CAST(floor(a * 1048576.0) AS BIGINT))
      FILTER (g = 'purchase') AS BIGINT) / 1048576.0 AS ta,
    CAST(sum(CAST(floor(a * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sa,
    CAST(CAST(sum(CAST(CAST(floor(a * a * 1048576.0) AS BIGINT)
      AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS sa2
  FROM sc GROUP BY nn
), f AS (
  SELECT na, nb, ta,
    CAST(nn AS DOUBLE) AS n, sa / nn AS abar, sa2
  FROM agg
), z AS (
  SELECT na, nb, ta,
    CASE WHEN na * nb * (sa2 - n * abar * abar) / (n * (n - 1.0)) > 0
      THEN (ta - na * abar)
        / sqrt(CAST(na AS DOUBLE) * nb * (sa2 - n * abar * abar)
          / (n * (n - 1.0))) END AS z
  FROM f
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(ta, 6) AS t_stat, round(z, 6) AS z_stat,
  CAST(abs(z) > 1.96 AS INTEGER) AS reject_5pct
FROM z
""")
def q_klotz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Klotz normal-scores scale test, purchase vs view values."""
    from from_superset_to_clickhouse_spark.operators.stats import klotz_test

    return klotz_test(
        _ev(spark, sf_dir), "event_type", "purchase", "view", "value"
    )


@register("siegel_tukey", oracle="""
-- Same zigzag rank assignment from the (value, group) total order.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
), r AS (
  SELECT g, CAST(row_number() OVER (ORDER BY v, g) AS BIGINT) AS i,
    count(*) OVER () AS nn
  FROM src
), z AS (
  SELECT g, nn,
    CAST(CASE WHEN i <= nn + 1 - i THEN
      CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
    ELSE
      CASE WHEN (nn + 1 - i) % 2 = 1 THEN 2 * (nn + 1 - i)
        ELSE 2 * (nn + 1 - i) - 1 END
    END AS DOUBLE) AS zr
  FROM r
), agg AS (
  SELECT nn,
    count(*) FILTER (g = 'purchase') AS na,
    count(*) FILTER (g = 'click') AS nb,
    sum(zr) FILTER (g = 'purchase') AS w
  FROM z GROUP BY nn
), f AS (
  SELECT na, nb, w, CAST(nn AS DOUBLE) AS n FROM agg
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(w, 6) AS w_stat,
  round((w - na * (n + 1.0) / 2.0)
    / sqrt(CAST(na AS DOUBLE) * nb * (n + 1.0) / 12.0), 6) AS z_stat,
  CAST(abs((w - na * (n + 1.0) / 2.0)
    / sqrt(CAST(na AS DOUBLE) * nb * (n + 1.0) / 12.0)) > 1.96
    AS INTEGER) AS reject_5pct
FROM f
""")
def q_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel–Tukey zigzag-rank scale test, purchase vs click."""
    from from_superset_to_clickhouse_spark.operators.stats import siegel_tukey

    return siegel_tukey(
        _ev(spark, sf_dir), "event_type", "purchase", "click", "value"
    )


@register("lepage", oracle="""
-- Same midranks, Ansari min(r, N+1-r) scores, parity-split moments,
-- exact chi2(2) tail.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), r AS (
  SELECT g,
    CAST(rank() OVER (ORDER BY v) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY v) AS DOUBLE) - 1.0) / 2.0
      AS r,
    count(*) OVER () AS nn
  FROM src
), agg AS (
  SELECT nn,
    count(*) FILTER (g = 'purchase') AS na,
    count(*) FILTER (g = 'view') AS nb,
    sum(r * 2.0) FILTER (g = 'purchase') / 2.0 AS w,
    sum(least(r, CAST(nn AS DOUBLE) + 1.0 - r) * 2.0)
      FILTER (g = 'purchase') / 2.0 AS ab
  FROM r GROUP BY nn
), f AS (
  SELECT na, nb, w, ab, CAST(nn AS DOUBLE) AS n, nn FROM agg
), z AS (
  SELECT na, nb,
    (w - na * (n + 1.0) / 2.0)
      / sqrt(CAST(na AS DOUBLE) * nb * (n + 1.0) / 12.0) AS zw,
    (ab - CASE WHEN nn % 2 = 0 THEN na * (n + 2.0) / 4.0
      ELSE na * (n + 1.0) * (n + 1.0) / (4.0 * n) END)
      / sqrt(CASE WHEN nn % 2 = 0
        THEN CAST(na AS DOUBLE) * nb * (n + 2.0) * (n - 2.0)
          / (48.0 * (n - 1.0))
        ELSE CAST(na AS DOUBLE) * nb * (n + 1.0) * (3.0 + n * n)
          / (48.0 * n * n) END) AS za
  FROM f
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(zw, 6) AS w_part, round(za, 6) AS a_part,
  round(zw * zw + za * za, 6) AS l_stat,
  round(exp(-(zw * zw + za * za) / 2.0), 6) AS p_value,
  CAST(exp(-(zw * zw + za * za) / 2.0) < 0.05 AS INTEGER)
    AS reject_5pct
FROM z
""")
def q_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage combined location-scale chi2(2), purchase vs view."""
    from from_superset_to_clickhouse_spark.operators.stats import lepage_test

    return lepage_test(
        _ev(spark, sf_dir), "event_type", "purchase", "view", "value"
    )


@register("theil_u", oracle="""
-- Same grid ratio terms, same SMA(3) forecast window.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), l AS (
  SELECT g, d, v,
    lag(v) OVER wo AS p,
    CASE WHEN count(v) OVER wp >= 3 THEN
      floor(sum(v * 1048576.0) OVER wp / 3.0) / 1048576.0 END AS f
  FROM gq
  WINDOW wo AS (PARTITION BY g ORDER BY d),
    wp AS (PARTITION BY g ORDER BY d
      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
), t AS (
  SELECT g, v, p, f,
    floor((v - p) / p * 1048576.0) / 1048576.0 AS ne,
    CASE WHEN f IS NOT NULL
      THEN floor((f - v) / p * 1048576.0) / 1048576.0 END AS fe
  FROM l WHERE p IS NOT NULL AND p != 0
), agg AS (
  SELECT g, count(*) AS n,
    CAST(sum(CAST(floor(ne * ne * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sn,
    CAST(sum(CAST(floor(fe * fe * 1048576.0) AS BIGINT))
      FILTER (f IS NOT NULL) AS BIGINT) / 1048576.0 AS sf,
    CAST(sum(CAST(floor(ne * ne * 1048576.0) AS BIGINT))
      FILTER (f IS NOT NULL) AS BIGINT) / 1048576.0 AS snf,
    CAST(CAST(sum(CAST(CAST(floor(v * v * 1048576.0) AS BIGINT)
      AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS sv2,
    CAST(CAST(sum(CAST(CAST(floor(p * p * 1048576.0) AS BIGINT)
      AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 1048576.0 AS sp2,
    CAST(sum(CAST(floor((v - p) * (v - p) * 1048576.0) AS BIGINT))
      AS BIGINT) / 1048576.0 AS sd2
  FROM t GROUP BY g
)
SELECT g, CAST(n AS BIGINT) AS n,
  round(sqrt(sd2 / n) / (sqrt(sv2 / n) + sqrt(sp2 / n)), 6) AS u1,
  round(CASE WHEN snf > 0 THEN sqrt(sf / snf) END, 6) AS u2
FROM agg
""")
def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U1/U2 of the trailing-SMA(3) forecast on each type's
    daily series — does smoothing beat the naive walk."""
    return tmp.theil_u(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("arch_lm", oracle="""
-- Same lag-1 squared-return regression, exact grid moments.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), l AS (
  SELECT g, d, v, lag(v) OVER wo AS p
  FROM gq WINDOW wo AS (PARTITION BY g ORDER BY d)
), r AS (
  SELECT g, d,
    CASE WHEN p IS NOT NULL AND p != 0 THEN
      floor((v - p) / p * 1048576.0) / 1048576.0 END AS rr
  FROM l
), r2 AS (
  SELECT g, d, rr * rr AS rsq FROM r
), xy AS (
  SELECT g, floor(rsq * 1048576.0) AS yq,
    floor(lag(rsq) OVER (PARTITION BY g ORDER BY d) * 1048576.0)
      AS xq
  FROM r2
), t AS (
  SELECT g, CAST(yq AS BIGINT) AS yq, CAST(xq AS BIGINT) AS xq
  FROM xy WHERE yq IS NOT NULL AND xq IS NOT NULL
), agg AS (
  SELECT g, count(*) AS n,
    CAST(sum(yq) AS BIGINT) AS sy,
    CAST(sum(xq) AS BIGINT) AS sx,
    CAST(CAST(sum(CAST(yq * yq AS HUGEINT)) AS VARCHAR) AS DOUBLE)
      AS syy,
    CAST(CAST(sum(CAST(xq * xq AS HUGEINT)) AS VARCHAR) AS DOUBLE)
      AS sxx,
    CAST(CAST(sum(CAST(xq * yq AS HUGEINT)) AS VARCHAR) AS DOUBLE)
      AS sxy
  FROM t GROUP BY g
), f AS (
  SELECT g, n, CAST(n AS DOUBLE) AS nd,
    sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS cxx,
    syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cyy,
    sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cxy
  FROM agg
), g2 AS (
  SELECT g, n, nd,
    CASE WHEN cxx > 0 AND cyy > 0 THEN cxy * cxy / (cxx * cyy)
      ELSE 0.0 END AS r2
  FROM f
), et AS (
  SELECT g, n, r2, nd * r2 AS lm,
    sqrt(nd * r2) / sqrt(2.0) AS xx,
    1.0 / (1.0 + 0.3275911 * (sqrt(nd * r2) / sqrt(2.0))) AS t
  FROM g2
)
SELECT g, CAST(n AS BIGINT) AS n, round(r2, 6) AS r2,
  round(lm, 6) AS lm_stat,
  round(2.0 * (""" + _SF_POLY.format(t="t", x="xx") + """), 6)
    AS p_value,
  CAST(2.0 * (""" + _SF_POLY.format(t="t", x="xx") + """) < 0.05
    AS INTEGER) AS reject_5pct
FROM et
""")
def q_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle ARCH LM (lag 1) on each type's daily return series."""
    return tmp.arch_lm(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("variance_ratio", oracle="""
-- Same exact grid increments, overlapping q-sums, homoskedastic z.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), l AS (
  SELECT g, d,
    CASE WHEN lag(v) OVER wo IS NOT NULL
      THEN v - lag(v) OVER wo END AS dd
  FROM gq WINDOW wo AS (PARTITION BY g ORDER BY d)
), t AS (
  SELECT g, d, dd,
    CASE WHEN count(dd) OVER wq >= 4
      THEN sum(dd * 1048576.0) OVER wq / 1048576.0 END AS dq
  FROM (SELECT * FROM l WHERE dd IS NOT NULL)
  WINDOW wq AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT g, count(dd) AS n,
    sum(dd * 1048576.0) / 1048576.0 AS sd,
    CAST(sum(CAST(floor(dd * dd * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sd2,
    count(dq) AS nq,
    sum(dq * 1048576.0) FILTER (dq IS NOT NULL) / 1048576.0 AS sq,
    CAST(sum(CAST(floor(dq * dq * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sq2
  FROM t GROUP BY g
), f AS (
  SELECT g, n, CAST(n AS DOUBLE) AS nd, CAST(nq AS DOUBLE) AS nqd,
    sd / n AS mu, sq / nq AS muq, sd2, sq2
  FROM agg
), vr AS (
  SELECT g, n,
    CASE WHEN sd2 / nd - mu * mu > 0
      THEN (sq2 / nqd - muq * muq) / (4.0 * (sd2 / nd - mu * mu))
      END AS vr,
    sqrt(2.0 * 7.0 * 3.0 / (12.0 * nd)) AS se
  FROM f
)
SELECT g, CAST(n AS BIGINT) AS n, round(vr, 6) AS vr,
  round((vr - 1.0) / se, 6) AS z_stat,
  CAST(abs((vr - 1.0) / se) > 1.96 AS INTEGER) AS reject_5pct
FROM vr
""")
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay VR(4) on each type's daily series — overlapping
    q-sums, homoskedastic z."""
    return tmp.variance_ratio(
        _daily_series_r12(spark, sf_dir), "g", "d", "v", q=4
    )


@register("g_chart", oracle="""
-- Same day gaps, same geometric 3-sigma UCL.
WITH src AS (
  SELECT event_type AS k, ts FROM events WHERE value > 150
), gaps AS (
  SELECT k, datediff('day', lag(ts) OVER (PARTITION BY k ORDER BY ts),
    ts) AS gap
  FROM src
), t AS (SELECT k, gap FROM gaps WHERE gap IS NOT NULL),
agg AS (
  SELECT k, count(*) AS n, CAST(sum(gap) AS BIGINT) AS s
  FROM t GROUP BY k
), lim AS (
  SELECT k, n, CAST(s AS DOUBLE) / n AS gb,
    CAST(s AS DOUBLE) / n
      + 3.0 * sqrt((CAST(s AS DOUBLE) / n)
        * (CAST(s AS DOUBLE) / n + 1.0)) AS ucl
  FROM agg
), j AS (
  SELECT lim.k, lim.n, lim.gb, lim.ucl,
    count(*) FILTER (CAST(t.gap AS DOUBLE) > lim.ucl) AS nout
  FROM t JOIN lim ON t.k = lim.k
  GROUP BY lim.k, lim.n, lim.gb, lim.ucl
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n_gaps,
  round(gb, 6) AS g_bar, round(ucl, 6) AS ucl,
  CAST(nout AS BIGINT) AS n_out
FROM j
""")
def q_g_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g-chart on day-gaps between consecutive HIGH-VALUE events
    (value > 150) per type — the sparse-event control chart."""
    from from_superset_to_clickhouse_spark.operators.temporal import g_chart

    ev = _ev(spark, sf_dir).filter(F.col("value") > 150)
    return g_chart(ev, "event_type", "ts")


@register("ultimate_osc", oracle="""
-- Same bars, grid BP/TR anchored on prev close, 4:2:1 blend.
WITH bars AS (""" + _BARS_1D_SQL + """),
lg AS (
  SELECT k, b, h, l, c, lag(c) OVER wo AS pc
  FROM bars WINDOW wo AS (PARTITION BY k ORDER BY b)
), t AS (
  SELECT k, b,
    CASE WHEN pc IS NOT NULL
      THEN floor((c - least(l, pc)) * 1048576.0) / 1048576.0 END AS bp,
    CASE WHEN pc IS NOT NULL
      THEN floor((greatest(h, pc) - least(l, pc)) * 1048576.0)
        / 1048576.0 END AS tr
  FROM lg
), w AS (
  SELECT k, b,
    CASE WHEN count(tr) OVER w1 >= 3
        AND sum(tr * 1048576.0) OVER w1 / 1048576.0 > 0
      THEN (sum(bp * 1048576.0) OVER w1 / 1048576.0)
        / (sum(tr * 1048576.0) OVER w1 / 1048576.0) END AS a1,
    CASE WHEN count(tr) OVER w2 >= 7
        AND sum(tr * 1048576.0) OVER w2 / 1048576.0 > 0
      THEN (sum(bp * 1048576.0) OVER w2 / 1048576.0)
        / (sum(tr * 1048576.0) OVER w2 / 1048576.0) END AS a2,
    CASE WHEN count(tr) OVER w3 >= 14
        AND sum(tr * 1048576.0) OVER w3 / 1048576.0 > 0
      THEN (sum(bp * 1048576.0) OVER w3 / 1048576.0)
        / (sum(tr * 1048576.0) OVER w3 / 1048576.0) END AS a3
  FROM t
  WINDOW w1 AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
  w2 AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
  w3 AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT k AS event_type, b AS bar_start,
  round(100.0 * (4.0 * a1 + 2.0 * a2 + a3) / 7.0, 6) AS uo
FROM w
""")
def q_ultimate_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ultimate Oscillator (3/7/14) over daily per-type bars."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        ultimate_oscillator,
    )

    ev = _ev(spark, sf_dir)
    return ultimate_oscillator(
        ev, "event_type", "ts", "value", "event_id",
        bar="1 day", p1=3, p2=7, p3=14,
    )


@register("kama", oracle="""
-- Same grid ER/sc, same adaptive fold via list_reduce (acc.v carries
-- the running average; first element seeds it).
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), l AS (
  SELECT g, d, v,
    abs(v - lag(v) OVER wo) AS m,
    abs(v - lag(v, 5) OVER wo) AS net
  FROM gq WINDOW wo AS (PARTITION BY g ORDER BY d)
), t AS (
  SELECT g, d, v, net,
    CASE WHEN count(m) OVER wp >= 5
      THEN sum(m * 1048576.0) OVER wp / 1048576.0 END AS vol
  FROM l
  WINDOW wp AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
), sc AS (
  SELECT g, d, v,
    CASE WHEN vol IS NOT NULL AND net IS NOT NULL THEN
      floor((CASE WHEN vol > 0 THEN net / vol ELSE 0.0 END
        * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0)
        * (CASE WHEN vol > 0 THEN net / vol ELSE 0.0 END
        * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0)
        * 1048576.0) / 1048576.0 END AS sc
  FROM t
), e AS (
  SELECT g, d, sc,
    CASE WHEN sc IS NOT NULL THEN {'sc': sc, 'v': v} END AS el
  FROM sc
), fr AS (
  SELECT g, d, sc,
    list_filter(list(el) OVER (PARTITION BY g ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      x -> x IS NOT NULL) AS l2
  FROM e
)
SELECT g, d,
  round(CASE WHEN sc IS NOT NULL AND len(l2) > 0 THEN
    struct_extract(list_reduce(l2, (acc, x) ->
      {'sc': x.sc, 'v': acc.v + x.sc * (x.v - acc.v)}), 'v')
  END, 6) AS kama
FROM fr
""")
def q_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman adaptive MA (ER period 5) on each type's daily series
    — the data-dependent-alpha fold."""
    return tmp.kama(
        _daily_series_r12(spark, sf_dir), "g", "d", "v", er_period=5
    )


@register("trix", oracle="""
-- Same three stacked unrolled EMA(5) folds, same ROC readout.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), f1 AS (
  SELECT g, d, list(v) OVER wp AS l1
  FROM gq WINDOW wp AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), e1 AS (
  SELECT g, d,
    """ + _ema_list_sql("l1", "2.0 / 6.0", "1.0 - 2.0 / 6.0") + """
    AS e1
  FROM f1
), f2 AS (
  SELECT g, d, e1, list(e1) OVER wp AS l2
  FROM e1 WINDOW wp AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), e2 AS (
  SELECT g, d,
    """ + _ema_list_sql("l2", "2.0 / 6.0", "1.0 - 2.0 / 6.0") + """
    AS e2
  FROM f2
), f3 AS (
  SELECT g, d, e2, list(e2) OVER wp AS l3
  FROM e2 WINDOW wp AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), e3 AS (
  SELECT g, d,
    """ + _ema_list_sql("l3", "2.0 / 6.0", "1.0 - 2.0 / 6.0") + """
    AS e3
  FROM f3
), l AS (
  SELECT g, d, e3, lag(e3) OVER (PARTITION BY g ORDER BY d) AS pe3
  FROM e3
)
SELECT g, d, round(e3, 6) AS ema3,
  round(CASE WHEN pe3 IS NOT NULL AND pe3 != 0
    THEN 10000.0 * (e3 - pe3) / pe3 END, 6) AS trix
FROM l
""")
def q_trix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(5): triple-EMA rate of change on each type's daily
    series — three stacked unrolled EMA folds."""
    return tmp.trix(_daily_series_r12(spark, sf_dir), "g", "d", "v", period=5)


@register("ichimoku", oracle="""
-- Same bars, trailing midpoints, p2-displaced spans.
WITH bars AS (""" + _BARS_1D_SQL + """),
m AS (
  SELECT k, b, c,
    CASE WHEN count(*) OVER w1 >= 3
      THEN (max(h) OVER w1 + min(l) OVER w1) / 2.0 END AS conv,
    CASE WHEN count(*) OVER w2 >= 8
      THEN (max(h) OVER w2 + min(l) OVER w2) / 2.0 END AS base,
    CASE WHEN count(*) OVER w3 >= 16
      THEN (max(h) OVER w3 + min(l) OVER w3) / 2.0 END AS mid2
  FROM bars
  WINDOW w1 AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
  w2 AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
  w3 AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
), f AS (
  SELECT k, b, conv, base,
    lag((conv + base) / 2.0, 8) OVER wo AS span_a,
    lag(mid2, 8) OVER wo AS span_b,
    lead(c, 8) OVER wo AS lagging
  FROM m WINDOW wo AS (PARTITION BY k ORDER BY b)
)
SELECT k AS event_type, b AS bar_start,
  round(conv, 6) AS conversion, round(base, 6) AS base,
  round(span_a, 6) AS span_a, round(span_b, 6) AS span_b,
  round(lagging, 6) AS lagging
FROM f
""")
def q_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku cloud (3/8) over daily per-type bars — displaced
    midpoint spans."""
    from from_superset_to_clickhouse_spark.operators.temporal import ichimoku

    ev = _ev(spark, sf_dir)
    return ichimoku(
        ev, "event_type", "ts", "value", "event_id",
        bar="1 day", p1=3, p2=8,
    )


@register("coppock", oracle="""
-- Same grid ROCs, same 1..5-weighted WMA over the trailing frame.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), rc AS (
  SELECT g, d,
    (CASE WHEN lag(v, 8) OVER wo IS NOT NULL
        AND lag(v, 8) OVER wo != 0
      THEN floor(100.0 * (v - lag(v, 8) OVER wo)
        / lag(v, 8) OVER wo * 1048576.0) / 1048576.0 END)
    + (CASE WHEN lag(v, 6) OVER wo IS NOT NULL
        AND lag(v, 6) OVER wo != 0
      THEN floor(100.0 * (v - lag(v, 6) OVER wo)
        / lag(v, 6) OVER wo * 1048576.0) / 1048576.0 END) AS rc
  FROM gq WINDOW wo AS (PARTITION BY g ORDER BY d)
), fr AS (
  SELECT g, d, rc,
    count(rc) OVER wp AS c,
    list(rc) OVER wp AS l
  FROM rc
  WINDOW wp AS (PARTITION BY g ORDER BY d
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT g, d,
  round(CASE WHEN c >= 5 AND len(l) = 5 THEN
    list_sum(list_transform(l, (x, i) -> x * CAST(i AS DOUBLE)))
      / 15.0 END, 6) AS coppock
FROM fr
""")
def q_coppock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock curve (ROC 8 + ROC 6, WMA 5) on each type's daily
    series."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        coppock_curve,
    )

    return coppock_curve(
        _daily_series_r12(spark, sf_dir), "g", "d", "v",
        roc1=8, roc2=6, wma_period=5,
    )


@register("elder_ray", oracle="""
-- Same bars, same unrolled EMA(7) fold on grid closes.
WITH bars AS (""" + _BARS_1D_SQL + """),
gq AS (
  SELECT k, b, h, l,
    floor(c * 1048576.0) / 1048576.0 AS cq
  FROM bars
), fr AS (
  SELECT k, b, h, l, list(cq) OVER wp AS lst
  FROM gq WINDOW wp AS (PARTITION BY k ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), e AS (
  SELECT k, b, h, l,
    """ + _ema_list_sql("lst", "2.0 / 8.0", "1.0 - 2.0 / 8.0") + """
    AS ema
  FROM fr
)
SELECT k AS event_type, b AS bar_start, round(ema, 6) AS ema,
  round(h - ema, 6) AS bull_power, round(l - ema, 6) AS bear_power
FROM e
""")
def q_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder-ray bull/bear power vs EMA(7) over daily per-type bars."""
    from from_superset_to_clickhouse_spark.operators.temporal import elder_ray

    ev = _ev(spark, sf_dir)
    return elder_ray(
        ev, "event_type", "ts", "value", "event_id",
        bar="1 day", period=7,
    )


@register("sampen", oracle="""
-- Same grid tolerance, same bounded template self-join counts.
WITH daily AS (""" + _DAILY_G_SQL + """),
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), mom AS (
  SELECT g, count(*) AS n,
    sum(v * 1048576.0) / 1048576.0 AS s1,
    CAST(sum(CAST(floor(v * v * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS s2
  FROM gq GROUP BY g
), tol AS (
  SELECT g, n,
    floor(sqrt(greatest((s2 - n * (s1 / n) * (s1 / n)) / n, 0.0))
      * 0.2 * 1048576.0) / 1048576.0 AS r
  FROM mom
), idx AS (
  SELECT g, row_number() OVER wo AS i, v,
    lead(v, 1) OVER wo AS v1, lead(v, 2) OVER wo AS v2
  FROM gq WINDOW wo AS (PARTITION BY g ORDER BY d)
), tpl AS (SELECT * FROM idx WHERE v1 IS NOT NULL),
pairs AS (
  SELECT a.g, a.v AS a0, a.v1 AS a1, a.v2 AS a2,
    b.v AS b0, b.v1 AS b1, b.v2 AS b2, t.r, t.n
  FROM tpl a JOIN tpl b ON a.g = b.g AND a.i < b.i
  JOIN tol t ON t.g = a.g
), agg AS (
  SELECT g, max(n) AS n, max(r) AS r,
    count(*) FILTER (abs(a0 - b0) <= r AND abs(a1 - b1) <= r
      AND a2 IS NOT NULL AND b2 IS NOT NULL) AS bm,
    count(*) FILTER (abs(a0 - b0) <= r AND abs(a1 - b1) <= r
      AND a2 IS NOT NULL AND b2 IS NOT NULL
      AND abs(a2 - b2) <= r) AS am
  FROM pairs GROUP BY g
)
SELECT g, CAST(n AS BIGINT) AS n, round(r, 6) AS r_tol,
  CAST(bm AS BIGINT) AS n_template, CAST(am AS BIGINT) AS n_match,
  round(CASE WHEN am > 0 AND bm > 0
    THEN -ln(CAST(am AS DOUBLE) / bm) END, 6) AS sampen
FROM agg
""")
def q_sampen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (m=2, r=0.2σ) of each type's daily series —
    bounded within-series template self-join, exact counts."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sample_entropy,
    )

    return sample_entropy(_daily_series_r12(spark, sf_dir), "g", "d", "v")


@register("yules_k", oracle="""
-- Same word tokens, exact frequency spectra.
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x != ''))
    AS w
  FROM documents
), freq AS (
  SELECT doc_id, w, count(*) AS m FROM toks GROUP BY doc_id, w
), agg AS (
  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n, count(*) AS v,
    count(*) FILTER (m = 1) AS v1,
    CAST(sum(m * m) AS BIGINT) AS sm2
  FROM freq GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens, CAST(v AS BIGINT) AS n_types,
  CAST(v1 AS BIGINT) AS n_hapax,
  round(10000.0 * (CAST(sm2 AS DOUBLE) - n)
    / (CAST(n AS DOUBLE) * n), 6) AS yules_k,
  round(CASE WHEN v1 < v THEN 100.0 * ln(CAST(n AS DOUBLE))
    / (1.0 - CAST(v1 AS DOUBLE) / v) END, 6) AS honore_r
FROM agg
""")
def q_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K + Honoré's R vocabulary richness per document —
    frequency-spectrum aggregates over the shared word tokens."""
    from from_superset_to_clickhouse_spark.operators.text import (
        vocabulary_richness,
    )

    return vocabulary_richness(_docs(spark, sf_dir))


@register("rate_ratio", oracle="""
-- Same conditional-binomial spine on the 2^40 ln grid.
WITH per AS (
  SELECT event_type AS g,
    count(*) FILTER (value > 200) AS obs,
    CAST(count(*) AS DOUBLE) / 1000.0 AS e
  FROM events WHERE value IS NOT NULL GROUP BY 1
), ref AS (
  SELECT obs AS obs_r, e AS e_r FROM per WHERE g = 'view'
), base AS (
  SELECT p.g, p.obs AS og, p.e AS eg, r.obs_r, r.e_r,
    p.obs + r.obs_r AS t, p.e / (p.e + r.e_r) AS pi
  FROM per p, ref r WHERE p.g != 'view'
), sup AS (
  SELECT g, og, eg, obs_r, e_r, t, pi,
    unnest(range(0, t + 1)) AS x
  FROM base
), st AS (
  SELECT *, CASE WHEN x = 0 THEN CAST(0 AS BIGINT) ELSE
    CAST(floor(ln(CAST(t - x + 1 AS DOUBLE)) * 1099511627776.0)
      AS BIGINT)
    - CAST(floor(ln(CAST(x AS DOUBLE)) * 1099511627776.0) AS BIGINT)
    + CAST(floor(ln(pi) * 1099511627776.0) AS BIGINT)
    - CAST(floor(ln(1.0 - pi) * 1099511627776.0) AS BIGINT)
  END AS step
  FROM sup
), cw AS (
  SELECT *, sum(CAST(step AS HUGEINT)) OVER (
    PARTITION BY g ORDER BY x
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnw
  FROM st
), mx AS (
  SELECT g, max(lnw) AS m FROM cw GROUP BY g
), ob AS (
  SELECT cw.g, lnw AS lnobs FROM cw WHERE x = og
), pm AS (
  SELECT cw.g, og, obs_r, eg, e_r,
    CAST(floor(exp(CAST(lnw - m AS DOUBLE) / 1099511627776.0)
      * 1099511627776.0) AS HUGEINT) AS w,
    lnw, lnobs
  FROM cw JOIN mx USING (g) JOIN ob ON ob.g = cw.g
), sums AS (
  SELECT g, og, obs_r, eg, e_r,
    sum(w) AS tot,
    sum(w) FILTER (lnw <= lnobs + 109951) AS inc
  FROM pm GROUP BY g, og, obs_r, eg, e_r
)
SELECT g, CAST(og AS BIGINT) AS obs, CAST(obs_r AS BIGINT) AS obs_ref,
  round((CAST(og AS DOUBLE) / eg) / (CAST(obs_r AS DOUBLE) / e_r), 6)
    AS rr,
  round(least(CAST(CAST(inc AS VARCHAR) AS DOUBLE)
    / CAST(CAST(tot AS VARCHAR) AS DOUBLE), 1.0), 6) AS p_two_sided
FROM sums
""")
def q_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Poisson rate-ratio test of each type's high-value
    (>450) event rate against the view baseline — conditional
    binomial, ln-grid spine."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        rate_ratio_test,
    )

    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    per = ev.groupBy("event_type").agg(
        F.count(F.when(F.col("value") > 200, 1)).alias("obs"),
        (F.count("*").cast("double") / 1000.0).alias("exp"),
    )
    return rate_ratio_test(per, "event_type", "obs", "exp", "view")


@register("weibull_mrr", oracle="""
-- Same Bernard ranks, same grid ln-ln OLS.
WITH src AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS t FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
), r AS (
  SELECT t, CAST(row_number() OVER (ORDER BY t) AS DOUBLE) AS i,
    count(*) OVER () AS n
  FROM src
), xy AS (
  SELECT n,
    floor(ln(t) * 1048576.0) / 1048576.0 AS x,
    floor(ln(-ln(1.0 - (i - 0.3) / (CAST(n AS DOUBLE) + 0.4)))
      * 1048576.0) / 1048576.0 AS y
  FROM r
), agg AS (
  SELECT n,
    CAST(sum(CAST(x * 1048576.0 AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sx,
    CAST(sum(CAST(y * 1048576.0 AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sy,
    CAST(sum(CAST(floor(x * x * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sxx,
    CAST(sum(CAST(floor(y * y * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS syy,
    CAST(sum(CAST(floor(x * y * 1048576.0) AS BIGINT)) AS BIGINT)
      / 1048576.0 AS sxy
  FROM xy GROUP BY n
), f AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    sxx - sx * sx / n AS cxx, syy - sy * sy / n AS cyy,
    sxy - sx * sy / n AS cxy, sx, sy
  FROM agg
), g AS (
  SELECT n, CASE WHEN cxx > 0 THEN cxy / cxx END AS shape,
    cxx, cyy, cxy, sx, sy, nd
  FROM f
)
SELECT CAST(n AS BIGINT) AS n, round(shape, 6) AS shape,
  round(exp(-((sy - shape * sx) / nd) / shape), 6) AS scale,
  round(CASE WHEN cxx > 0 AND cyy > 0
    THEN cxy * cxy / (cxx * cyy) END, 6) AS r2
FROM g
""")
def q_weibull_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull median-rank-regression fit of the order-price
    distribution — Bernard ranks, grid ln-ln OLS."""
    from from_superset_to_clickhouse_spark.operators.stats import weibull_mrr

    o = _t(spark, sf_dir, "orders")
    return weibull_mrr(o, "o_totalprice")


@register("mood_scale", oracle="""
-- Same midranks, exact x4 squared deviations, exact null moments.
WITH src AS (
  SELECT event_type AS g,
    floor(CAST(value AS DOUBLE) * 1048576.0) / 1048576.0 AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('signup', 'error')
), r AS (
  SELECT g,
    CAST(rank() OVER (ORDER BY v) AS DOUBLE)
      + (CAST(count(*) OVER (PARTITION BY v) AS DOUBLE) - 1.0) / 2.0
      AS r,
    count(*) OVER () AS nn
  FROM src
), agg AS (
  SELECT nn,
    count(*) FILTER (g = 'signup') AS na,
    count(*) FILTER (g = 'error') AS nb,
    sum((r - (CAST(nn AS DOUBLE) + 1.0) / 2.0)
      * (r - (CAST(nn AS DOUBLE) + 1.0) / 2.0) * 4.0)
      FILTER (g = 'signup') / 4.0 AS t
  FROM r GROUP BY nn
), f AS (
  SELECT na, nb, t, CAST(nn AS DOUBLE) AS n FROM agg
), z AS (
  SELECT na, nb, t,
    CASE WHEN CAST(na AS DOUBLE) * nb * (n + 1.0) * (n * n - 4.0)
        / 180.0 > 0
      THEN (t - na * (n * n - 1.0) / 12.0)
        / sqrt(CAST(na AS DOUBLE) * nb * (n + 1.0) * (n * n - 4.0)
          / 180.0) END AS z
  FROM f
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(t, 6) AS t_stat, round(z, 6) AS z_stat,
  CAST(abs(z) > 1.96 AS INTEGER) AS reject_5pct
FROM z
""")
def q_mood_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's squared-rank-deviation scale test, signup vs error
    values — exact x4-integer T, exact null moments."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        mood_scale_test,
    )

    return mood_scale_test(
        _ev(spark, sf_dir), "event_type", "signup", "error", "value"
    )


def _psar_walk_sql() -> str:
    """Recursive-walk twin of the PSAR fold: one row per (key, bar
    index), each step computing every state column from the previous
    bar's row. No state travels through a struct accumulator: DuckDB
    1.0's list_reduce can let a struct field read a slot its sibling
    already overwrote (tests/test_fold_twins.py pins the hazard), which
    the field order alone did not prevent here. Branches in the Spark
    fold's order: bar 1 is stashed, bar 2 seeds, later bars flip or
    ratchet."""
    raw = "(a.sar + a.af * (a.ep - a.sar))"
    up_sar = (
        f"least({raw}, coalesce(x.pl, {raw}), coalesce(x.pl2, {raw}))"
    )
    dn_sar = (
        f"greatest({raw}, coalesce(x.ph, {raw}), coalesce(x.ph2, {raw}))"
    )
    rise = "((x.h + x.l) > (a.h + a.l))"
    bump = "least(a.af + 0.02, 0.2)"
    branches = [
        ("a.h IS NULL",
         ("NULL::BOOLEAN", "NULL::DOUBLE", "NULL::DOUBLE", "NULL::DOUBLE")),
        ("a.up IS NULL",
         (rise,
          f"CASE WHEN {rise} THEN least(a.l, x.l) ELSE greatest(a.h, x.h) END",
          f"CASE WHEN {rise} THEN greatest(a.h, x.h) ELSE least(a.l, x.l) END",
          "0.02")),
        (f"a.up AND x.l < {up_sar}", ("false", "a.ep", "x.l", "0.02")),
        (f"(NOT a.up) AND x.h > {dn_sar}", ("true", "a.ep", "x.h", "0.02")),
        ("a.up",
         ("true", up_sar, "greatest(a.ep, x.h)",
          f"CASE WHEN x.h > a.ep THEN {bump} ELSE a.af END")),
        (None,
         ("false", dn_sar, "least(a.ep, x.l)",
          f"CASE WHEN x.l < a.ep THEN {bump} ELSE a.af END")),
    ]
    cols = []
    for k, name in enumerate(("up", "sar", "ep", "af")):
        whens = " ".join(
            f"WHEN {cond} THEN {vals[k]}" for cond, vals in branches[:-1]
        )
        cols.append(f"CASE {whens} ELSE {branches[-1][1][k]} END AS {name}")
    return ",\n    ".join(cols)


@register("psar", oracle="""
-- Same gridded bars + prior-two-bar clamps, same seed/flip/ratchet
-- recursion, walked bar by bar (WITH RECURSIVE) per key.
WITH RECURSIVE bars AS (""" + _BARS_1D_SQL + """),
lg AS (
  SELECT k, b, h, l,
    row_number() OVER wo AS i,
    lag(h, 1) OVER wo AS ph, lag(l, 1) OVER wo AS pl,
    lag(h, 2) OVER wo AS ph2, lag(l, 2) OVER wo AS pl2
  FROM (
    SELECT k, b,
      floor(h * 1048576.0) / 1048576.0 AS h,
      floor(l * 1048576.0) / 1048576.0 AS l
    FROM bars)
  WINDOW wo AS (PARTITION BY k ORDER BY b)
), walk AS (
  SELECT k, b, i, NULL::BOOLEAN AS up, NULL::DOUBLE AS sar,
    NULL::DOUBLE AS ep, NULL::DOUBLE AS af, h, l
  FROM lg WHERE i = 1
  UNION ALL
  SELECT x.k, x.b, x.i,
    """ + _psar_walk_sql() + """,
    x.h, x.l
  FROM walk a JOIN lg x ON x.k = a.k AND x.i = a.i + 1
)
SELECT k AS event_type, b AS bar_start,
  round(sar, 6) AS sar,
  CASE WHEN sar IS NOT NULL THEN
    CASE WHEN up THEN 'up' ELSE 'down' END END AS direction
FROM walk
""")
def q_psar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parabolic SAR over daily per-type bars — the accelerating
    flip recursion as a grid-exact fold, recursive-walk twin."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        parabolic_sar,
    )

    ev = _ev(spark, sf_dir)
    return parabolic_sar(
        ev, "event_type", "ts", "value", "event_id", bar="1 day"
    )


# ---------------------------------------------------------------------------
# Spectral tier: periodogram over the first 28 daily
# points per type. The cos/sin tables are generated ONCE here and
# embedded as identical literal doubles in the Spark expression AND
# the SQL twin — no cross-engine libm trig in the data path.

_PG_N, _PG_M = 28, 13
_PG_COS = [
    [__import__("math").cos(2.0 * __import__("math").pi * j * t / _PG_N)
     for t in range(_PG_N)]
    for j in range(1, _PG_M + 1)
]
_PG_SIN = [
    [__import__("math").sin(2.0 * __import__("math").pi * j * t / _PG_N)
     for t in range(_PG_N)]
    for j in range(1, _PG_M + 1)
]


def _pg_daily_planted(spark: SparkSession, sf_dir: str, plant: bool):
    d = _daily_series_r12(spark, sf_dir)
    if not plant:
        return d
    w = Window.partitionBy("g").orderBy("d")
    sin4 = F.array(*[F.lit(float(x)) for x in _PG_SIN[3]])
    t_idx = (F.row_number().over(w) - 1).cast("int")
    return d.select(
        "g",
        "d",
        (
            F.col("v")
            + 30.0 * F.element_at(sin4, F.pmod(t_idx, _PG_N) + 1)
        ).alias("v"),
    )


def _pg_sql(plant: bool, out: str) -> str:
    """Periodogram twin from the SAME literal trig tables: list-fold
    dot products in the Spark fold order, exact Fisher tail, entropy
    fold — all on the first-28 ordered slice per series."""
    import math as _m

    def lit(row):
        return "[" + ", ".join(repr(float(x)) for x in row) + "]"

    if plant:
        base = f"""
daily0 AS ({_DAILY_G_SQL}),
idx AS (
  SELECT g, d, v,
    CAST(row_number() OVER (PARTITION BY g ORDER BY d) - 1 AS INTEGER)
      AS t
  FROM daily0
), daily AS (
  SELECT g, d,
    v + 30.0 * list_extract({lit(_PG_SIN[3])}, (t % {_PG_N}) + 1) AS v
  FROM idx
)"""
    else:
        base = f"daily AS ({_DAILY_G_SQL})"
    dots = []
    for j in range(_PG_M):
        cj, sj = lit(_PG_COS[j]), lit(_PG_SIN[j])
        dots.append(
            f"(list_sum(list_transform(a, (x, i) -> x * "
            f"list_extract({cj}, i))) * "
            f"list_sum(list_transform(a, (x, i) -> x * "
            f"list_extract({cj}, i))) + "
            f"list_sum(list_transform(a, (x, i) -> x * "
            f"list_extract({sj}, i))) * "
            f"list_sum(list_transform(a, (x, i) -> x * "
            f"list_extract({sj}, i)))) / {float(_PG_N)!r}"
        )
    iarr = "[" + ", ".join(dots) + "]"
    pterms = " + ".join(
        f"({((-1.0) ** (k - 1)) * _m.comb(_PG_M, k)!r} * "
        f"pow(greatest(1.0 - {float(k)!r} * gs, 0.0), "
        f"{float(_PG_M - 1)!r}))"
        for k in range(1, _PG_M + 1)
    )
    if out == "fisher":
        sel = (
            'SELECT g, CAST(13 AS BIGINT) AS m, peak_j, '
            'round(gs, 6) AS g_stat, '
            f'round(least(greatest({pterms}, 0.0), 1.0), 6) AS p_value'
        )
    else:
        sel = (
            'SELECT g, CAST(13 AS BIGINT) AS m, peak_j, '
            'round(-list_sum(list_transform(ii, x -> CASE WHEN x > 0 '
            'THEN (x / tot) * ln(x / tot) ELSE 0.0 END)) '
            f'/ {_m.log(_PG_M)!r}, 6) AS spec_entropy'
        )
    return f"""
-- literal-trig periodogram: identical constants on both engines.
WITH {base},
gq AS (
  SELECT g, d, floor(v * 1048576.0) / 1048576.0 AS v FROM daily
), arr AS (
  SELECT g, list(v ORDER BY d)[1:{_PG_N}] AS a, count(*) AS n
  FROM gq GROUP BY g HAVING count(*) >= {_PG_N}
), ints AS (
  SELECT g, {iarr} AS ii FROM arr
), agg AS (
  SELECT g, ii, list_sum(ii) AS tot,
    list_max(ii) AS mx,
    CAST(list_position(ii, list_max(ii)) AS INTEGER) AS peak_j
  FROM ints
), fin AS (
  SELECT g, ii, tot, peak_j, mx / tot AS gs FROM agg
)
{sel}
FROM fin
"""


@register("fisher_g", oracle=_pg_sql(True, "fisher"))
def q_fisher_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's g hidden-periodicity test on the daily series with a
    PLANTED weekly tone (30·sin at Fourier frequency j=4 of 28) —
    peak_j must land on 4 with a tiny exact-tail p."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        periodogram_fixed,
    )

    d = _pg_daily_planted(spark, sf_dir, plant=True)
    return periodogram_fixed(d, "g", "d", "v", n=_PG_N).select(
        "g", "m", "peak_j", "g_stat", "p_value"
    )


# NOTE: a harmonic spectral_entropy entry already exists (the
# ``periodogram``/``spectral_entropy`` exploratory pair); this tier
# adds only the EXACT-tail Fisher test, which needs the fixed-length
# literal-trig contract.
