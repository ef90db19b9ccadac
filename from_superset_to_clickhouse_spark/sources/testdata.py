"""Loader for the driver-generated parquet fixtures (/root/testdata/sf*).

The fixture files carry TIMESTAMP(NANOS) columns, which Spark's Parquet
reader rejects by default ([PARQUET_TYPE_ILLEGAL]). We read them with
``spark.sql.legacy.parquet.nanosAsLong`` and convert ns-longs back to
TimestampType by integer-dividing to microseconds — exactly the µs
truncation DuckDB applies when it reads the same files, so oracle
comparisons see identical values.

Known plan cost (fixture-only): predicates on the normalized timestamp
sit above a derived expression, so they do NOT reach the Parquet scan
(``.explain`` shows only ``IsNotNull`` pushed for ``events.ts``).
Native µs-timestamp Parquet — i.e. anything this engine writes, and
the orders/lineitem fixtures — pushes timestamp predicates fully (see
the tpch_q3 plan). Not worth engine complexity to special-case.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.functions.scalar import _spread

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with timestamp normalization to a single
    canonical type: TIMESTAMP (session-local, session tz pinned to UTC).

    Two parquet flavors exist across driver rounds and both must land on
    the same Spark type, or every ``unix_micros``/timestamp-typed path
    becomes fixture-dependent:
    - ``timestamp[ns]``: Spark can't read nanos natively — read as long
      (``nanosAsLong``), integer-divide to µs, rebuild the timestamp;
    - ``timestamp[us]`` without UTC adjustment: Spark 4 infers
      TIMESTAMP_NTZ — cast to TIMESTAMP, which is wall-clock-preserving
      under the UTC session timezone.
    """
    from pyspark.sql.types import TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    schema = pq.read_schema(path)
    for field in schema:
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    # The fixtures are single small parquet files (often one row group),
    # so Spark reads them as ONE partition and every compute-heavy first
    # stage (codec decode, minhash, char-gram windows) runs serially —
    # an artifact real deployments don't have (a 100 TB scan is parallel
    # by construction). Spread the PAYLOAD tables (documents/embeddings:
    # per-row compute dominates — codecs, signatures, vector math) to
    # the cluster parallelism; the narrow numeric tables stay as read,
    # where a 32-task shuffle stage costs more than it saves (measured
    # +0.3-0.6s per sub-second query). Filters still push through the
    # Repartition node, and every registered query design is
    # row-order-free.
    if name in ("documents", "embeddings"):
        df = _spread(df)
    return df

