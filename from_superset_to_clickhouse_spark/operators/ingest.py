"""Incremental ingest — the reference's flagship path, Spark-first.

Entry point A in SURVEY.md §3.1 (v2 daily load, ``v2/dag.py:98-122``):
watermark probe → pushed-down incremental filter on the source →
projection with NULL→DEFAULT coercion + constant lineage column →
append into a dedup store. Entry point B (§3.2, v1 shard load +
partition swap) is the same staging DataFrame published with
``overwrite_partitions`` instead of ``append``.

Scale: the watermark probe is a single-column scan with partial agg; the
incremental filter is planned before the read so it reaches the Parquet
row-group stats / remote WHERE clause; the projection is pure Catalyst
expressions (whole-stage codegen, no Python).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark import watermark as wm
from from_superset_to_clickhouse_spark.schema import Schema
from from_superset_to_clickhouse_spark.tablestore import TableStore


def build_increment(
    source_df: DataFrame,
    schema: Schema,
    watermark_field: str,
    watermark_value: Any,
    source_tag: str,
    strict: bool = True,
    source_column: str = "source",
    column_map: dict[str, str] | None = None,
) -> DataFrame:
    """Stage one incremental batch as a DataFrame (no side effects).

    Reproduces the INSERT-SELECT projection (e.g.
    ``v2/sql/f_superset_logs_upload_data.sql:1-14``): rename/select source
    columns, coerce NULLs to the schema defaults, append the constant
    ``source`` lineage column, filter to rows past the watermark.
    """
    df = source_df
    for src, dst in (column_map or {}).items():
        df = df.withColumnRenamed(src, dst)
    df = df.filter(wm.increment_predicate(watermark_field, watermark_value, strict))
    df = df.withColumn(source_column, F.lit(source_tag))
    return schema.coerce(df)


def ingest(
    store: TableStore,
    source_df: DataFrame,
    schema: Schema,
    watermark_field: str,
    source_tag: str,
    strict: bool = True,
    publish: str = "append",
    column_map: dict[str, str] | None = None,
    count_rows: bool = False,
    *,
    _after: dict | None = None,
) -> int | None:
    """One incremental load run. Returns rows ingested when
    ``count_rows=True``, else ``None`` after a write and ``0`` for an
    empty increment (``None`` rather than a sentinel int so a skipped
    count can never masquerade as a real row count downstream).

    publish="append"  → v2 semantics: strict-> watermark, append, dedup
                        deferred to latest_view/compact (Replacing analog).
    publish="swap"    → v1 semantics: month-floored >= watermark, stage,
                        then atomically replace the affected partitions.

    Row counting is FREE: with ``count_rows=True`` an ``Observation``
    rides the write action, so the increment is scanned exactly once
    either way (an up-front ``count()`` would scan the source increment
    twice — 2× source I/O per load at scale, VERDICT.md r1 item 8).
    Without a count, the empty-increment check uses ``isEmpty()``
    (stops at the first found row) to skip the write entirely; with the
    observation the write itself is the emptiness probe (an empty
    append or partition overwrite is a no-op on the table data).

    ``_after`` (private, for ``v2_daily_load``'s retention anchor; needs
    ``count_rows=True`` and an append): a dict that receives the
    table's MAX(``watermark_field``) after the load under
    ``"watermark"`` (``_watermark_after``), from the same Observation
    — no scan of the table.
    """
    from pyspark.sql import Observation

    if _after is not None and (publish != "append" or not count_rows):
        raise ValueError("_after needs count_rows=True and publish='append'")
    store.create(schema, if_not_exists=True)
    target = store.read(schema.name)
    if publish == "swap":
        value = wm.probe_month_floor(target, watermark_field)
        strict = False
    else:
        value = wm.probe(target, watermark_field)
    inc = build_increment(
        source_df, schema, watermark_field, value, source_tag,
        strict=strict, column_map=column_map,
    )
    obs = None
    inc_plain = inc
    if count_rows:
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("n")]
        if _after is not None:
            aggs.append(F.max(F.col(watermark_field)).alias("wm"))
        inc = inc_plain.observe(obs, *aggs)
    elif inc_plain.isEmpty():
        return 0
    if publish == "swap":
        store.overwrite_partitions(schema.name, inc)
    else:
        store.append(schema.name, inc)
    if obs is None:
        return None
    try:
        got = obs.get
    except Exception:
        # An empty increment schedules zero tasks, so the observation
        # collects no metric row. CONFIRM that before reporting 0 —
        # any other obs.get failure after a write that shipped rows
        # must surface, not masquerade as an empty load. (isEmpty on
        # the unobserved plan is cheap either way: first-row
        # short-circuit when rows exist, empty pruned scan when not.)
        if not inc_plain.isEmpty():
            raise
        got = {"n": 0}
    if _after is not None:
        _after["watermark"] = _watermark_after(value, got.get("wm"))
    return int(got["n"])


def _watermark_after(before: Any, inc_max: Any) -> Any:
    """The target's MAX(watermark) after appending an increment whose
    own maximum is ``inc_max`` (None: no rows), ``before`` being the
    probe the increment was filtered against. Every increment row is
    past ``before`` (``increment_predicate``), so a non-empty
    increment's maximum is the new one; an empty one leaves ``before``
    (the bootstrap for an empty target, as a probe would return).
    Assumes the single writer per table that TableStore's commit
    protocol already assumes: nothing else lands in the target between
    the probe and the caller's use of the value."""
    return before if inc_max is None else inc_max
