"""The package's one Python/Arrow crossing.

Every operator that runs Python per batch, per group or per row crosses
into the Python worker here, in Arrow form: no pandas conversion, one
batch loop per form, one schema rule. The forms:

- ``map_batches``: ``mapInArrow``. ``fn`` takes a partition's batches
  and yields one mapping per output batch (field name → column values),
  so per-task state (a memo, a running summary) lives in ``fn``.
- ``map_rows``: ``map_batches`` one row at a time, with quarantine.
- ``apply_groups``: grouped or cogrouped ``applyInArrow``. ``fn`` takes
  the group's table (two tables when cogrouped) and returns one mapping.
- ``row_udf``: a scalar ``arrow_udf``; ``fn`` sees one row's Python
  values.
- ``vector_udf``: a scalar ``arrow_udf``; ``fn`` sees the batch's valid
  vectors as one matrix.

The contract, stated once for every form:

- **Schema.** Output is built column by column with the Arrow types of
  the declared Spark schema. A column's values are an Arrow array
  (cast), a 1-D numpy array or Python sequence, a 2-D numpy array for a
  list column (one row per matrix row), or a mapping for a struct
  column. A batch with no rows is a mapping of empty columns, so an
  empty or all-skipped batch needs no special case.
- **Vectors.** ``vectors(col, dim)`` turns a list column into a valid-row
  mask (non-NULL, exactly ``dim`` long) plus the float64 matrix of those
  rows in row order, with Arrow compute, not a Python loop. With
  ``dim=None`` the batch's most common length is used, ties to the
  length seen first. Kernels compute on the matrix only, so an invalid
  vector never fails a task.
- **NULL scatter.** ``row_udf`` gives NULL for a row with a NULL
  argument. ``vector_udf`` puts ``fn``'s rows back at the valid
  positions and NULL at the rest; with ``ragged``, a non-NULL vector of
  the wrong length gets ``ragged(x)`` instead.
- **Quarantine.** In ``map_rows`` the first column is the key and passes
  through (cast to the first field's type). When ``fn`` raises one of
  ``catch`` the row comes back as the key plus NULLs, so one bad payload
  never kills the stage; anything else fails the job.
- **Spread.** ``spread=True`` first repartitions a source that has fewer
  partitions than the default parallelism (``_spread``): a Python stage
  runs one task per input partition.

The one crossing outside this module is ``streaming/ingest.py``'s
``applyInPandasWithState``, the stateful-streaming API; Spark has no
Arrow form with the same state model.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.group_ops import PandasCogroupedOps
from pyspark.sql.pandas.types import to_arrow_type

from from_superset_to_clickhouse_spark.functions.scalar import _spread


def _column(values, t: pa.DataType) -> pa.Array:
    """``values`` as an Arrow array of type ``t`` (see the contract)."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if isinstance(values, pa.Array):
        return values.cast(t)
    if isinstance(values, Mapping):
        return pa.StructArray.from_arrays(
            [_column(values[f.name], f.type) for f in t], fields=list(t)
        )
    if isinstance(values, np.ndarray) and values.ndim == 2:
        n, w = values.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * w),
            pa.array(values.reshape(-1), type=t.value_type),
            type=t,
        )
    return pa.array(values, type=t)


def _builder(schema: "T.StructType | str") -> tuple[T.StructType, Callable]:
    """(the Spark schema, mapping → RecordBatch of that schema)."""
    schema = T.DataType.fromDDL(schema) if isinstance(schema, str) else schema
    names = schema.names
    types = [to_arrow_type(f.dataType) for f in schema.fields]

    def build(cols: Mapping) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [_column(cols[n], t) for n, t in zip(names, types)], names=names
        )

    return schema, build


def vectors(col, dim: "int | None" = None) -> tuple[np.ndarray, np.ndarray]:
    """(mask, mat): ``mask`` marks the rows of list column ``col`` whose
    vector is non-NULL and exactly ``dim`` long (``dim=None``: the most
    common length, ties to the first seen); ``mat`` is their float64
    matrix, one row per True in ``mask``. ``col`` may also be a Python
    list of vectors (a collected side)."""
    if isinstance(col, list):
        col = pa.array(col, type=pa.list_(pa.float64()))
    elif isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = pc.list_value_length(col).fill_null(-1).to_numpy()
    if dim is None:
        seen, first, counts = np.unique(
            lens[lens >= 0], return_index=True, return_counts=True
        )
        dim = int(seen[np.lexsort((first, -counts))[0]]) if len(seen) else 0
    mask = lens == dim
    rows = col if mask.all() else col.filter(pa.array(mask))
    mat = rows.flatten().to_numpy(zero_copy_only=False)
    return mask, mat.astype(np.float64, copy=False).reshape(len(rows), dim)


def map_batches(
    df: DataFrame, fn: Callable, schema: "T.StructType | str", spread=False
) -> DataFrame:
    """One ``mapInArrow`` over ``df``: ``fn`` takes the partition's
    batches and yields one column mapping per output batch."""
    schema, build = _builder(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for cols in fn(batches):
            yield build(cols)

    return (_spread(df) if spread else df).mapInArrow(run, schema)


def map_rows(
    df: DataFrame, fn: Callable, schema: T.StructType, catch: tuple = ()
) -> DataFrame:
    """Per-row ``map_batches``: the first column of ``df`` is the key and
    becomes ``schema``'s first field; ``fn`` receives the remaining
    column values as Python objects and returns the remaining fields as
    a tuple, or raises one of ``catch`` for a quarantine row."""
    names = schema.names
    quarantine = (None,) * (len(names) - 1)

    def rows(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        for batch in batches:
            out = []
            for values in zip(*(c.to_pylist() for c in batch.columns[1:])):
                try:
                    out.append(fn(*values))
                except catch:
                    out.append(quarantine)
            cols = list(zip(*out)) if out else [()] * len(quarantine)
            yield dict(zip(names, [batch.column(0), *cols]))

    return map_batches(df, rows, schema)


def apply_groups(
    grouped, fn: Callable[..., Mapping], schema: "T.StructType | str"
) -> DataFrame:
    """One ``applyInArrow`` over ``grouped`` (``df.groupBy(...)`` or a
    ``cogroup``): ``fn`` takes the group's table(s) and returns one
    column mapping."""
    schema, build = _builder(schema)

    def run(*tables: pa.Table) -> pa.Table:
        return pa.Table.from_batches([build(fn(*tables))])

    # Spark reads the group form from the function's arity
    if isinstance(grouped, PandasCogroupedOps):
        return grouped.applyInArrow(lambda a, b: run(a, b), schema)
    return grouped.applyInArrow(lambda tbl: run(tbl), schema)


def row_udf(fn: Callable, ret: str) -> Callable:
    """A scalar Arrow UDF of return type ``ret`` that calls ``fn`` on
    each row's Python values; a NULL argument gives NULL."""
    t = to_arrow_type(T.DataType.fromDDL(ret))

    def run(*cols: pa.Array) -> pa.Array:
        return pa.array(
            [
                None if any(v is None for v in vals) else fn(*vals)
                for vals in zip(*(c.to_pylist() for c in cols))
            ],
            type=t,
        )

    return F.arrow_udf(run, ret)


def vector_udf(
    ret: str, dim: int, fn: Callable, ragged: "Callable | None" = None
) -> Callable:
    """A scalar Arrow UDF over one vector column: ``fn`` runs once per
    batch on the ``dim``-long valid vectors' matrix and returns one
    value per matrix row (an array, or for a struct ``ret`` a mapping of
    arrays by field name); invalid rows scatter to NULL, or to
    ``ragged(x)`` for a non-NULL vector of the wrong length."""
    t = to_arrow_type(T.DataType.fromDDL(ret))

    def run(col: pa.Array) -> pa.Array:
        mask, mat = vectors(col, dim)
        out = _column(fn(mat), t)
        if mask.all():
            return out
        pos = np.cumsum(mask) - 1
        null = ~mask
        if ragged is not None:
            odd = np.flatnonzero(null & col.is_valid().to_numpy(False))
            vals = [ragged(np.asarray(col[i].as_py(), np.float64)) for i in odd]
            pos[odd], null[odd] = len(out) + np.arange(len(odd)), False
            out = pa.concat_arrays([out, pa.array(vals, type=t)])
        return out.take(pa.array(pos, mask=null))

    return F.arrow_udf(run, ret)
