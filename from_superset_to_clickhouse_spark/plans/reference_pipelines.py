"""End-to-end ports of the two reference pipelines over the fixtures.

These compose the engine's pieces (Pipeline, ingest, TableStore,
delete_where, compact) into the exact flows the reference repo is named
after:

- ``v2_daily_load``: the v2 DAG (reference ``v2/dag.py:156-169``) —
  create tables → parallel fact+dim incremental uploads (strict ``>``
  watermark, append into a Replacing store) → source retention delete
  (skipped for the legacy connection, ``v2/dag.py:126-130``) → compact
  (the background-merge analog).
- ``v1_shard_load``: the v1 DAG (reference ``v1/dag.py:114-126``) —
  two disjoint ``id%2`` shard extracts (month-floored ``>=`` watermark)
  staged and published with an atomic partition swap (the
  ``ALTER TABLE … REPLACE PARTITION`` analog) — swapping ALL staged
  partitions, unlike the reference's ``partitions[0]`` bug
  (``v1/dag.py:97``).

Both run on any (spark, TableStore, source DataFrames) — the fixtures in
tests, JDBC sources in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from from_superset_to_clickhouse_spark.functions.scalar import mod_shard, months_ago
from from_superset_to_clickhouse_spark.operators.ingest import build_increment, ingest
from from_superset_to_clickhouse_spark.plans.pipeline import Pipeline, SkipStep, Step
from from_superset_to_clickhouse_spark.schema import Schema
from from_superset_to_clickhouse_spark.sources.readers import read_jdbc, write_jdbc
from from_superset_to_clickhouse_spark.tablestore import TableStore
from from_superset_to_clickhouse_spark import watermark as wm


def v2_daily_load(
    store: TableStore,
    fact_source: DataFrame,
    fact_schema: Schema,
    fact_watermark: str,
    dim_source: DataFrame | None = None,
    dim_schema: Schema | None = None,
    dim_watermark: str | None = None,
    source_tag: str = "superset",
    retention_months: int = 30,
    sink_url: str | None = None,
    sink_table: str | None = None,
    sink_properties: dict[str, str] | None = None,
    sink_first_run: bool = False,
) -> dict:
    """One run of the v2 daily incremental load (reference entry point A,
    SURVEY.md §3.1). Returns the pipeline's step-result dict.

    When ``sink_url``/``sink_table`` are set, a final ``external_publish``
    step mirrors the fact table's deduped view into an external JDBC
    store — the reference's INSERT-SELECT *into* ClickHouse half
    (``v2/sql/f_superset_logs_upload_data.sql:1-14``). The publish is
    itself watermark-incremental: it probes MAX(watermark) on the
    *remote* table (bootstrap on first run / missing table) and appends
    only newer rows, so a daily run ships one day's rows, not a 100 TB
    snapshot, and a rerun is a no-op rather than a duplication.
    """

    def create(ctx):
        store.create(fact_schema, if_not_exists=True)
        if dim_schema is not None:
            store.create(dim_schema, if_not_exists=True)
        return "created"

    # The fact table's MAX(watermark) after its ingest, taken from the
    # ingest's own Observation: the retention anchor, with no re-scan.
    fact_after: dict = {}

    def upload_fact(ctx):
        return ingest(
            store, fact_source, fact_schema, fact_watermark,
            source_tag=source_tag, strict=True, count_rows=True,
            _after=fact_after,
        )

    def upload_dim(ctx):
        if dim_schema is None:
            raise SkipStep("no dimension source configured")
        return ingest(
            store, dim_source, dim_schema, dim_watermark,
            source_tag=source_tag, strict=True, count_rows=True,
        )

    def delete_old(ctx):
        # Reference: never delete from the legacy database (v2/dag.py:126-130).
        if ctx.get("connection") == "superset_old":
            raise SkipStep("legacy source — retention delete skipped")
        # Single writer per table (TableStore's contract): the fact
        # table has not changed since its ingest took this maximum.
        anchor = fact_after["watermark"]
        cutoff = months_ago(retention_months, F.lit(anchor))
        return store.delete_where(
            fact_schema.name, F.col(fact_watermark) < cutoff
        )

    def compact(ctx):
        store.compact(fact_schema.name)
        return "compacted"

    def publish_external(ctx):
        if sink_url is None or sink_table is None:
            raise SkipStep("no external JDBC sink configured")
        fact = store.latest_view(fact_schema.name)
        if sink_first_run:
            # Explicit operator-declared bootstrap: skip the probe
            # entirely instead of inferring "first run" from driver- and
            # locale-specific error text (which fails closed but forces
            # manual intervention on unrecognized drivers).
            inc = fact
            if inc.isEmpty():
                raise SkipStep("nothing to publish")
            write_jdbc(
                inc, sink_url, sink_table, mode="append",
                properties=sink_properties, num_partitions=8,
            )
            return "published"
        try:
            # Probe MAX(watermark) via a pushed-down subquery: Spark does
            # NOT push aggregates through the JDBC source by default, so
            # reading the table and calling MAX would ship every remote
            # row over the wire on every daily publish — against an
            # ever-growing sink. The dbtable subquery makes the REMOTE
            # engine compute the one-row answer.
            # ANSI-quoted identifiers: Spark's JDBC writer creates quoted
            # (case-exact) columns, so an unquoted name would case-fold
            # on Derby/Postgres/Oracle and miss. (MySQL needs ANSI_QUOTES
            # for this; its default backtick dialect is out of scope.)
            probe_q = (
                f'(SELECT MAX("{fact_watermark}") AS "{fact_watermark}" '
                f"FROM {sink_table}) wm_probe"
            )
            remote = read_jdbc(
                store.spark, sink_url, probe_q, properties=sink_properties
            )
            anchor = wm.probe(remote, fact_watermark)
        except Exception as exc:
            # Bootstrap ONLY on a recognizable missing-table error (the
            # first run — write_jdbc's append mode will CREATE it). Any
            # other failure (network, auth, driver) must FAIL the step:
            # treating a transient error as first-run would re-append
            # the entire fact table into the remote store.
            msg = str(exc).lower()
            missing = any(
                s in msg
                for s in (
                    "does not exist",
                    "not found",
                    "42x05",  # Derby: table/view does not exist
                    "42p01",  # Postgres: undefined_table
                    "unknown table",  # ClickHouse/MySQL
                )
            )
            if not missing:
                raise
            anchor = wm.BOOTSTRAP
        inc = fact.filter(
            wm.increment_predicate(fact_watermark, anchor, strict=True)
        )
        if inc.isEmpty():
            raise SkipStep("external sink already at watermark")
        write_jdbc(
            inc, sink_url, sink_table, mode="append",
            properties=sink_properties, num_partitions=8,
        )
        return "published"

    pipe = Pipeline(
        name="v2_daily_load",
        stages=[
            Step("create_tables", create),
            [Step("fact_upload_data", upload_fact), Step("dim_upload_data", upload_dim)],
            Step("delete_old_rows", delete_old),
            Step("compact", compact),
            Step("external_publish", publish_external),
        ],
        config={"connection": source_tag},
    )
    return pipe.run()


def v1_shard_load(
    store: TableStore,
    source: DataFrame,
    schema: Schema,
    watermark_field: str,
    source_tag: str = "superset",
    num_shards: int = 2,
    limit: int | None = None,
) -> dict:
    """One run of the v1 shard-parallel load + partition swap (reference
    entry point B, SURVEY.md §3.2).

    Each "shard" stages the month-floored increment for its ``id%n``
    slice (the reference's disjoint predicates, ``v1/dag.py:116-125``);
    the union of the staged slices replaces exactly the partitions it
    contains. ``limit`` reproduces the reference's per-shard batch cap
    (``limit 1000``) when explicitly requested — it is OFF by default
    because an unordered limit silently truncates backfills (SURVEY §2
    row 23 quirk note).
    """
    staged: dict[int, DataFrame] = {}

    def create(ctx):
        store.create(schema, if_not_exists=True)
        return "created"

    def mk_shard(shard: int):
        def fn(ctx):
            target = store.read(schema.name)
            floor = wm.probe_month_floor(target, watermark_field)
            inc = build_increment(
                source.filter(mod_shard(schema.shard_by or "id", num_shards) == shard),
                schema, watermark_field, floor, source_tag, strict=False,
            )
            if limit is not None:
                inc = inc.limit(limit)
            staged[shard] = inc
            return f"staged shard {shard}"

        return fn

    def change_partitions(ctx):
        full = staged[0]
        for s in range(1, num_shards):
            full = full.unionByName(staged[s])
        if full.isEmpty():
            raise SkipStep("empty increment")
        store.overwrite_partitions(schema.name, full)
        return "swapped"

    pipe = Pipeline(
        name="v1_shard_load",
        stages=[
            Step("create_table", create),
            [Step(f"shard_upload_{s}", mk_shard(s)) for s in range(num_shards)],
            Step("change_partitions", change_partitions),
        ],
    )
    return pipe.run()
