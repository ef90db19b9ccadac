"""Schema objects: StructType + defaults + physical-layout metadata.

The reference declares schemas in ClickHouse DDL with three things plain
Spark schemas lack (SURVEY.md §1.2-1.4):

1. per-column ``DEFAULT`` literals that NULLs coerce to on insert
   (``v2/sql/create_tables.sql:5-12,30-39,73-88`` in the reference),
2. a dedup key — the ``ORDER BY`` key of a ReplacingMergeTree
   (``v2/sql/create_tables.sql:15-17``),
3. partition / sort / shard keys
   (``v1/sql/create_table.sql:16-22``).

``Schema`` carries all of that so the ingest projection and the dedup
writer can apply it explicitly (Spark-side equivalent of ClickHouse's
implicit NULL→DEFAULT coercion and merge-time dedup).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPE_MAP: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
    "array<float>": T.ArrayType(T.FloatType()),
    "array<string>": T.ArrayType(T.StringType()),
}


@dataclass(frozen=True)
class Field:
    name: str
    dtype: str
    nullable: bool = True
    default: Any = None  # literal substituted for NULL at ingest

    @property
    def spark_type(self) -> T.DataType:
        return _TYPE_MAP[self.dtype]

    def to_struct_field(self) -> T.StructField:
        return T.StructField(self.name, self.spark_type, self.nullable)


@dataclass(frozen=True)
class Schema:
    """Logical table description.

    partition_by: column name OR ("alias", fn) derived partition column —
    the engine materializes derived partition columns at write time (the
    reference's ``PARTITION BY date_trunc('month', dttm)``).
    """

    name: str
    fields: tuple[Field, ...]
    dedup_key: tuple[str, ...] = ()
    version_col: str | None = None  # latest-wins ordering; None → ingest seq
    partition_by: tuple[str, ...] = ()
    sort_by: tuple[str, ...] = ()
    shard_by: str | None = None
    # SummingMergeTree analog: numeric columns folded by SUM per
    # dedup_key when rows merge (summing_view / compact). Empty →
    # Replacing (latest-wins) semantics.
    sum_cols: tuple[str, ...] = ()

    def to_struct_type(self) -> T.StructType:
        return T.StructType([f.to_struct_field() for f in self.fields])

    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]

    def defaults(self) -> dict[str, Any]:
        return {f.name: f.default for f in self.fields if f.default is not None}

    def default_exprs(self) -> list[Column]:
        """Projection applying NULL→DEFAULT coercion, preserving order.

        Mirrors ClickHouse's implicit coercion when a Nullable source column
        lands in a NOT NULL DEFAULT target column (reference:
        ``v2/sql/create_external_tables.sql:5-12`` vs
        ``v2/sql/create_tables.sql:5-13``).
        """
        cols = []
        for f in self.fields:
            # Cast inside the coalesce: coalesce widens to the wider of
            # its arguments, so a bigint source would stay bigint.
            c = F.col(f.name).cast(f.spark_type)
            if f.default is not None:
                c = F.coalesce(c, F.lit(f.default).cast(f.spark_type))
            cols.append(c.alias(f.name))
        return cols

    def coerce(self, df: DataFrame) -> DataFrame:
        """Select schema columns in order, filling defaults for NULLs."""
        return df.select(*self.default_exprs())

    def clone(self, name: str, **overrides) -> "Schema":
        """CREATE TABLE AS <other>: copy column defs, swap the "engine"
        (layout attributes: dedup_key / partition_by / sort_by / …) via
        keyword overrides — the reference pattern of re-declaring the
        same columns under a different table engine
        (``v1/sql/create_processed_table.sql:2-6``,
        ``v2/sql/create_external_tables.sql:17-24``)."""
        from dataclasses import replace

        return replace(self, name=name, **overrides)


# ---------------------------------------------------------------------------
# Reference table schemas (FIXTURES.md §A; DDL in the reference repo:
# v2/sql/create_tables.sql, v2/sql/create_external_tables.sql).
# ---------------------------------------------------------------------------

LOGS = Schema(
    name="logs",
    fields=(
        Field("id", "int", nullable=False),
        Field("action", "string", default="undefined"),
        Field("user_id", "int", default=-1),
        Field("json", "string", default="undefined"),
        Field("dttm", "timestamp", nullable=False),
        Field("dashboard_id", "int", default=-1),
        Field("slice_id", "int", default=-1),
        Field("duration_ms", "int", default=0),
        Field("referrer", "string", default="undefined"),
        Field("source", "string", nullable=False),
    ),
    # The reference v2 quirk deduped by user_id (v2/sql/create_tables.sql:17);
    # we make the key explicit and default it to the true row id (SURVEY §1.2).
    dedup_key=("id",),
    version_col="dttm",
    partition_by=("dttm_month",),
    sort_by=("id",),
    shard_by="id",
)

AB_USER = Schema(
    name="ab_user",
    fields=(
        Field("id", "int", nullable=False),
        Field("first_name", "string"),
        Field("last_name", "string"),
        Field("username", "string"),
        Field("password", "string", default="undefined"),
        Field("active", "boolean", default=False),
        Field("email", "string"),
        Field("login_count", "int", default=0),
        Field("fail_login_count", "int", default=0),
        Field("created_on", "timestamp", default="1997-01-01 00:00:00"),
        Field("changed_on", "timestamp", default="1997-01-01 00:00:00"),
        Field("created_by_fk", "int", default=-1),
        Field("changed_by_fk", "int", default=-1),
    ),
    dedup_key=("id",),
    version_col="changed_on",
    sort_by=("id",),
    shard_by="id",
)

DASHBOARDS = Schema(
    name="dashboards",
    fields=(
        Field("created_on", "timestamp"),
        Field("changed_on", "timestamp", default="1997-01-01 00:00:00"),
        Field("id", "int", nullable=False),
        Field("dashboard_title", "string", default="undefined"),
        Field("position_json", "string", default="undefined"),
        Field("created_by_fk", "int", default=-1),
        Field("changed_by_fk", "int", default=-1),
        Field("css", "string", default="undefined"),
        Field("description", "string", default="undefined"),
        Field("slug", "string", default="undefined"),
        Field("json_metadata", "string", default="undefined"),
        Field("published", "boolean", default=False),
        Field("uuid", "string", default="00000000-0000-0000-0000-000000000000"),
        Field("certified_by", "string", default="undefined"),
        Field("certification_details", "string", default="undefined"),
        Field("is_managed_externally", "boolean", default=False),
        Field("external_url", "string", default="undefined"),
    ),
    dedup_key=("id",),
    version_col="changed_on",
    sort_by=("id",),
    shard_by="id",
)
