"""TableStore: partitioned-Parquet tables with ClickHouse-table semantics.

Maps the reference's four physical table roles (SURVEY.md §1.1) onto Spark:

- ReplicatedMergeTree / partitioned fact store  → partitioned Parquet dir
  (``v1/sql/create_table.sql:15-17``)
- ReplicatedReplacingMergeTree (last-write-wins upsert)
  → explicit dedup key + version column; correct-on-read ``latest_view`` +
  periodic ``compact()`` rewrite — mirrors ClickHouse's "correct on
  SELECT FINAL, eventual on disk" (``v2/sql/create_tables.sql:15-17``)
- Distributed(…, id) sharding → Spark's native shuffle partitioning;
  ``repartition(shard_by)`` applied before write for co-location
  (``v2/sql/create_tables.sql:19-21``)
- ALTER TABLE … REPLACE PARTITION atomic swap → ``overwrite_partitions``,
  a ``_commit`` of the staged partitions (``v1/dag.py:96-102``)

Scale notes: every write path repartitions by the shard key (co-located
joins downstream), sorts within partitions by the sort key (Parquet
min/max stats → data skipping, the ``ORDER BY id`` analog), and the
dedup view is a single window over the dedup key — one shuffle, AQE-skew
tolerant.

All metadata / maintenance filesystem access goes through
``fsio.Fs`` — the Hadoop FileSystem API of the session's JVM — so the
store works unchanged on ``file://``, ``hdfs://``, or object stores
with a committer. Concurrency contract: SINGLE WRITER PER TABLE
(mirrors the reference's ``max_active_runs=1``, ``v2/dag.py:59``);
the ingest-sequence bump takes a best-effort lease so a misconfigured
second writer fails fast instead of corrupting the sequence.

Every replace (partition overwrite, delete, update, merge, compact,
optimize, z-order) builds only the frame to write and commits it
through ``_commit``, one protocol for every layout; no write uses
Spark's own overwrite modes under ``data/``, and there is no
whole-table ``overwrite``: a ``mode("overwrite")`` write deletes the
old files before the job that writes the new ones, so a failed job
leaves an unpartitioned table empty. The unit of replacement is a
partition directory under ``data/``; an unpartitioned table is one
whole-table unit (``data/`` itself). The steps:

1. stage: write the frame to ``data_staging_<ms>`` next to ``data/``;
2. trash: move every replaced unit to ``_trash_<ms>`` (same relative
   path), also outside ``data/``, so partition discovery never sees a
   stray directory;
3. swap: move every staged unit into its place under ``data/``;
4. drop trash: delete the staging dir (the mark that the swap is
   done), ``data/`` itself once a partitioned table's last partition
   is gone, the skip-index entries of every vanished partition (one
   meta write), then the trash.

Between steps 2 and 3 a replaced unit exists only in the trash. So
``vacuum`` rolls back: while a commit's staging dir still exists, each
unit in its trash (or in a ``data.old.*`` dir left by older versions)
whose place under ``data/`` is empty is moved back before the
leftovers are deleted. No committed row is lost; each unit reads as
either its old or its new contents, and re-running the mutation
completes it. The one write that is not a single commit is a merge on
a partitioned table that inserts into a partition it does not rewrite:
those inserts land in an append after the commit (see ``merge_into``).

Every public method reads ``_table_meta.json`` once and passes the
dict down; the private helpers take it as ``meta``. The one other read
is ``_next_ingest_seq``'s, under the sequence lease, and the caller
continues with the dict it saved.

Physical-type contract: files under ``data/`` carry the declared
types; reads declare them. Every write (``_prepare``, ``_commit``)
casts each declared column, and ``_ingest_seq``, to its declared type
(``_declared``), so every scan passes the schema derived from the meta
to the reader and Spark plans it without a footer-inference job. A
column that older files lack (``add_column``) reads as NULL and its
DEFAULT fills it. A store written by an earlier version whose files
hold a physical type that Spark cannot read as the declared one (e.g.
INT64 under an ``int`` field) has no migration path: such a file fails
the read, and the table must be reloaded from its sources.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import posixpath
import time
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from from_superset_to_clickhouse_spark.fsio import Fs, join
from from_superset_to_clickhouse_spark.functions.scalar import month_floor
from from_superset_to_clickhouse_spark.schema import Schema

INGEST_SEQ_COL = "_ingest_seq"
META_FILE = "_table_meta.json"
# One AQE advisory partition (the session default): batches estimated
# under this land in a single write task with or without clustering,
# so the pre-write REBALANCE would be a pure extra exchange.
_ADVISORY_PARTITION_BYTES = 64 * 1024 * 1024

# Derived partition columns the engine knows how to materialize. The
# reference's only derived partition expr is date_trunc('month', dttm)
# (``v1/sql/create_table.sql:16``).
_DERIVED_PARTITIONS = {
    "dttm_month": lambda: month_floor("dttm").cast("date"),
    "ts_month": lambda: month_floor("ts").cast("date"),
    # Daily grain for high-rate facts where a month partition would blow
    # past the ~1 GB/partition guidance at scale.
    "dttm_day": lambda: F.to_date("dttm"),
    "ts_day": lambda: F.to_date("ts"),
}


def _file_dir() -> Column:
    """``_dir``: the directory of the file a scanned row came from.
    Select it straight over a scan (after any filter): a projection of
    this nondeterministic expression blocks filter pushdown."""
    return F.regexp_replace(F.input_file_name(), "/[^/]*$", "").alias("_dir")


def _declared(meta: dict, unit: bool = False) -> str:
    """DDL of the table's read schema, from its meta alone: the declared
    fields, ``_ingest_seq bigint``, then the partition columns (a
    derived one as ``date``), last as partition discovery puts them.
    ``unit`` leaves the partition columns out: the schema of one
    partition directory's files read on their own. Meta dtypes are
    Spark DDL type names (``long`` as well as ``bigint``), so Spark
    parses them."""
    parts = meta["partition_by"]
    types = {n: t for n, t, _nb, _d in meta["fields"]}
    cols = [(n, t) for n, t in types.items() if n not in parts]
    cols.append((INGEST_SEQ_COL, "bigint"))
    if not unit:
        cols += [(p, types.get(p, "date")) for p in parts]
    return ", ".join(f"`{n}` {t}" for n, t in cols)


@dataclass
class TableStore:
    """A named collection of partitioned Parquet tables under ``root``."""

    spark: SparkSession
    root: str

    # -- lifecycle (SURVEY §2.7 rows 33-37) ---------------------------------

    @property
    def fs(self) -> Fs:
        f = getattr(self, "_fs_cache", None)
        if f is None:
            f = Fs(self.spark, self.root)
            self._fs_cache = f
        return f

    def path(self, name: str) -> str:
        return join(self.root, name)

    def exists(self, name: str) -> bool:
        return self.fs.exists(join(self.path(name), META_FILE))

    def create(self, schema: Schema, if_not_exists: bool = True) -> None:
        """CREATE TABLE (IF NOT EXISTS): persist schema + layout metadata."""
        p = self.path(schema.name)
        if self.exists(schema.name):
            if if_not_exists:
                return
            raise ValueError(f"table {schema.name} already exists")
        self.fs.mkdirs(p)
        meta = {
            "fields": [[f.name, f.dtype, f.nullable, f.default] for f in schema.fields],
            "dedup_key": list(schema.dedup_key),
            "version_col": schema.version_col,
            "partition_by": list(schema.partition_by),
            "sort_by": list(schema.sort_by),
            "shard_by": schema.shard_by,
            "sum_cols": list(schema.sum_cols),
            "ingest_seq": 0,
        }
        self.fs.write_text(join(p, META_FILE), json.dumps(meta))

    def drop(self, name: str, if_exists: bool = True) -> None:
        p = self.path(name)
        if not self.fs.exists(p):
            if if_exists:
                return
            raise ValueError(f"table {name} does not exist")
        self.fs.delete(p)

    def rename(self, old: str, new: str) -> None:
        """RENAME TABLE x TO y (reference migration step, v2/README.MD:24-27)."""
        self.fs.rename(self.path(old), self.path(new))

    def add_column(self, name: str, field) -> None:
        """ALTER TABLE … ADD COLUMN — metadata-only schema evolution
        (the reference's v1→v2 migration reshapes tables the same way:
        new columns arrive without rewriting history). No data rewrite
        at any scale: rows written before the ALTER simply lack the
        column on disk and read back as the declared DEFAULT (lazy
        backfill, the ClickHouse semantic); rows appended after carry it
        physically. ``field`` is a ``schema.Field``; its default is
        recorded in the table meta so ``read`` can reconcile mixed file
        schemas."""
        meta = self._meta(name)
        if field.name in [f[0] for f in meta["fields"]]:
            raise ValueError(f"column {field.name} already exists in {name}")
        meta["fields"].append(
            [field.name, field.dtype, field.nullable, field.default]
        )
        evolved = dict(meta.get("evolved_defaults") or {})
        evolved[field.name] = [field.dtype, field.default]
        meta["evolved_defaults"] = evolved
        self._save_meta(name, meta)

    def add_check(self, name: str, check_name: str, expr: str) -> None:
        """ALTER TABLE … ADD CONSTRAINT … CHECK (ClickHouse
        ``constraints.sql`` semantics): ``expr`` is a SQL boolean over
        the table's columns that every INSERTED row must satisfy.
        Matching ClickHouse, constraints are enforced on the WRITE path
        only (append, overwrite_partitions and merge inserts — one extra
        aggregate pass over the incoming batch, all constraints counted
        in a single job);
        mutations (UPDATE/MERGE of existing rows) are not re-checked,
        and existing data is not retro-validated. SQL-standard NULL
        semantics: a row violates only when the expression evaluates to
        FALSE — unknown (NULL) passes."""
        # Fail fast: force parse + column resolution against the
        # table's own schema (F.expr alone is lazy in Spark 4) — an
        # unparseable expression or unknown column raises HERE, not on
        # the first insert.
        meta = self._meta(name)
        self._empty(meta).filter(F.expr(expr)).schema
        checks = dict(meta.get("checks") or {})
        if check_name in checks:
            raise ValueError(f"check {check_name} already exists on {name}")
        checks[check_name] = expr
        meta["checks"] = checks
        self._save_meta(name, meta)

    def drop_check(self, name: str, check_name: str) -> None:
        """ALTER TABLE … DROP CONSTRAINT."""
        meta = self._meta(name)
        checks = dict(meta.get("checks") or {})
        if check_name not in checks:
            raise ValueError(f"no check {check_name} on {name}")
        del checks[check_name]
        meta["checks"] = checks
        self._save_meta(name, meta)

    def _validate_checks(self, name: str, meta: dict, df: DataFrame) -> None:
        """Reject the whole batch if any CHECK constraint is violated —
        runs BEFORE the ingest sequence advances or any byte lands, so
        a failed insert leaves the table untouched (ClickHouse's
        exception-on-INSERT contract). One aggregate job counts every
        constraint's violations simultaneously."""
        checks = meta.get("checks") or {}
        if not checks:
            return
        counts = df.agg(
            *[
                F.count(
                    F.when(~F.coalesce(F.expr(e), F.lit(True)), F.lit(1))
                ).alias(n)
                for n, e in sorted(checks.items())
            ]
        ).first()
        bad = {n: counts[n] for n in checks if counts[n]}
        if bad:
            detail = ", ".join(
                f"{n} ({bad[n]} rows: {checks[n]})" for n in sorted(bad)
            )
            raise ValueError(
                f"CHECK constraint violation on {name}: {detail}"
            )

    def _meta(self, name: str) -> dict:
        return json.loads(self.fs.read_text(join(self.path(name), META_FILE)))

    def _save_meta(self, name: str, meta: dict) -> None:
        # Create-overwrite: atomically visible on close (HDFS), last
        # writer wins — single-writer contract, see module docstring.
        self.fs.write_text(join(self.path(name), META_FILE), json.dumps(meta))

    def _next_ingest_seq(self, name: str) -> dict:
        """Bump the monotone batch counter under a best-effort lease;
        returns the meta it saved, which the caller carries on with.

        The lease (atomic create-no-overwrite) makes a second concurrent
        writer fail fast rather than double-allocate a sequence; a lease
        older than 10 minutes is presumed crashed and broken. Not a
        substitute for the single-writer contract on raw object stores.
        The meta is re-read under the lease, the one write-path read
        besides the public call's own: it checks the sequence against
        what is on disk, and the caller's later saves start from it, so
        none writes back a stale ``ingest_seq``.
        """
        lock = join(self.path(name), ".meta.lock")
        deadline = time.time() + 30
        while not self.fs.try_lock(lock):
            try:
                if time.time() * 1000 - self.fs.mtime_ms(lock) > 600_000:
                    self.fs.delete(lock, recursive=False)
                    continue
            except Exception:
                # Lock vanished between try_lock and stat, or stat/delete
                # failed (e.g. permissions). Fall through to the deadline
                # check + sleep — a bare retry here would spin forever when
                # the IO failure is persistent.
                pass
            if time.time() > deadline:
                raise IOError(
                    f"could not acquire ingest-seq lease {lock}; "
                    "another writer is active (single-writer contract)"
                )
            time.sleep(0.2)
        try:
            meta = self._meta(name)
            meta["ingest_seq"] += 1
            self._save_meta(name, meta)
            return meta
        finally:
            self.fs.unlock(lock)

    # -- write paths (SURVEY §2.1 rows 2-4, 6; §2.7 row 36) -----------------

    def _prepare(
        self, name: str, meta: dict, df: DataFrame
    ) -> tuple[dict, DataFrame]:
        """The one insert prologue of every write that adds rows
        (``append``, ``overwrite_partitions``, merge inserts): validate
        the CHECKs, take ONE ingest sequence, derive the partition
        columns, stamp ``_ingest_seq`` and conform to the declared
        types. Returns the meta ``_next_ingest_seq`` saved and the
        prepared rows."""
        self._validate_checks(name, meta, df)
        meta = self._next_ingest_seq(name)
        for p in meta["partition_by"]:
            if p not in df.columns:
                if p not in _DERIVED_PARTITIONS:
                    raise ValueError(f"cannot derive partition column {p}")
                df = df.withColumn(p, _DERIVED_PARTITIONS[p]())
        # Ingest sequence: monotone batch counter — the "physically last
        # inserted wins" ordering ReplacingMergeTree uses when no version
        # column is declared.
        df = df.withColumn(INGEST_SEQ_COL, F.lit(meta["ingest_seq"]).cast("bigint"))
        return meta, self._conform(df, meta)

    def _conform(self, df: DataFrame, meta: dict) -> DataFrame:
        """``df`` with each declared column it carries cast to its
        declared type (``_declared``) — the physical-type contract of
        the module docstring, applied at both write choke points
        (``_prepare``, ``_commit``). A frame already in the declared
        types comes back unchanged."""
        want = {f.name: f.dataType for f in T.StructType.fromDDL(_declared(meta))}
        casts = {
            f.name: F.col(f.name).cast(want[f.name])
            for f in df.schema.fields
            if want.get(f.name, f.dataType) != f.dataType
        }
        return df.withColumns(casts) if casts else df

    def _layout(self, df: DataFrame, meta: dict) -> DataFrame:
        """Write layout of every full-row write: hash-repartition by the
        shard key (co-located joins downstream), else cluster by the
        partition columns; then sort within files by the sort key."""
        parts = meta["partition_by"]
        if meta.get("shard_by"):
            df = df.repartition(F.col(meta["shard_by"]))
        elif parts:
            df = self._cluster_for_write(df, parts)
        sort_by = meta.get("sort_by") or []
        if sort_by:
            df = df.sortWithinPartitions(*[F.col(c) for c in sort_by])
        return df

    def _cluster_for_write(self, df: DataFrame, parts: list) -> DataFrame:
        """Cluster a batch by its partition columns before a partitionBy
        write — when the batch is big enough to span several write tasks
        (r16 optimization round, guide §6).

        Without clustering, every write task fans out into every
        partition directory it touches, so a WIDE batch writes
        (tasks × partitions) small files — a count that grows with core
        count and taxes every later read of the table. The REBALANCE
        hint is the scale-adaptive fix: AQE coalesces small partition
        groups and splits oversized ones at the advisory size, so a
        huge single partition still parallelizes across write tasks
        instead of serializing into one.

        The guard: batches whose plan-time size estimate fits inside
        ONE advisory partition are left alone — they end up in a single
        write task either way (at most one file per touched partition
        already), and the extra exchange would be a pure scheduling tax
        (measured +0.3-0.9 s per merge_upsert run at sf0.1). Unknown
        estimates (e.g. localCheckpointed inputs report Long.Max) err
        toward clustering — the scale-safe direction."""
        try:
            est = int(
                str(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:
            est = None
        if est is not None and est <= _ADVISORY_PARTITION_BYTES:
            return df
        return df.hint("rebalance", *parts)

    def append(self, name: str, df: DataFrame) -> None:
        """INSERT INTO … SELECT (append ingest)."""
        self._append(name, *self._prepare(name, self._meta(name), df))

    def _append(self, name: str, meta: dict, out: DataFrame) -> None:
        """Write the prepared rows ``out`` as new files beside the
        existing ones, then widen the skip indexes and add the
        projection partials."""
        out = self._layout(out, meta)
        w = out.write.mode("append")
        if meta["partition_by"]:
            w = w.partitionBy(*meta["partition_by"])
        w.parquet(join(self.path(name), "data"))
        self._update_indexes(name, meta, out, mode="merge")
        self._update_projections(name, meta, out)

    def overwrite_partitions(self, name: str, df: DataFrame) -> None:
        """Atomic partition swap: replace exactly the partitions present in df.

        The Spark-native equivalent of the reference's staging-table +
        ``ALTER TABLE … REPLACE PARTITION`` flow (``v1/dag.py:83-104``):
        the batch is staged and ``_commit`` swaps each staged partition
        in for its namesake, leaving other partitions untouched — the
        same crash-recoverable protocol as every rewrite. (And unlike
        the reference's ``partitions[0]`` bug, all staged partitions
        swap.) An unpartitioned table has no partition to swap.
        """
        meta = self._meta(name)
        if not meta["partition_by"]:
            raise ValueError(f"table {name} is unpartitioned: no partition to swap")
        meta, out = self._prepare(name, meta, df)
        out = self._layout(out, meta)
        self._commit(name, meta, out)
        self._update_indexes(name, meta, out, mode="replace")
        self._mark_projections_stale(name, meta)

    # -- zone maps (sort-key min/max per partition — data skipping) ---------

    def _zone_spec(self, meta: dict) -> tuple[str | None, str | None]:
        """Zone maps track the FIRST sort key on single-partition-column
        tables (the reference's ``ORDER BY id`` inside monthly
        partitions). Multi-level partitioning or no sort key → no maps."""
        sort_by = meta.get("sort_by") or []
        parts = meta["partition_by"]
        if len(parts) == 1 and sort_by:
            return sort_by[0], parts[0]
        return None, None

    @staticmethod
    def _zkey(v):
        """JSON-safe, order-preserving encoding of a zone bound:
        numerics ride natively; dates/timestamps as ISO strings (ISO is
        lexicographically ordered); strings as-is."""
        if v is None or isinstance(v, (int, float, str)):
            return v
        return v.isoformat(sep=" ") if hasattr(v, "isoformat") else str(v)

    _HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

    @classmethod
    def _zone_part_key(cls, v):
        """Zone-map entries are keyed by the SAME string the partition
        directory name decodes to (Hive convention), NOT Python
        ``str(v)``: True writes ``part=true`` (str gives 'True'), NULL
        writes ``__HIVE_DEFAULT_PARTITION__`` (str gives 'None'), so a
        str(v) key would never satisfy the coverage check in
        ``zone_prune_partitions`` and silently disable pruning forever —
        the exact reconstruction trap ``_partition_rel_dirs`` documents.
        This string also matches Spark's ``CAST(part AS STRING)`` for
        non-NULL values, which ``read_where``'s isin relies on."""
        if v is None:
            return cls._HIVE_NULL
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, dt.datetime):
            return v.isoformat(sep=" ")
        if hasattr(v, "isoformat"):  # date
            return v.isoformat()
        return str(v)

    def _update_indexes(
        self,
        name: str,
        meta: dict,
        staged: DataFrame,
        mode: str,
        zone: bool = True,
        bloom_cols: "list[str] | None" = None,
        ngram_cols: "list[str] | None" = None,
    ) -> None:
        """Fused skip-index maintenance (r16 optimization round, guide
        §2.4/§6): ONE aggregate job over the staged batch refreshes the
        zone map AND every (n-gram-)bloom bitmap. Previously each
        structure ran its own scan of ``staged`` — zone maps one job,
        plus an aggregate AND a distinct-partitions job per indexed
        column — so a table with a zone column and two bloom indexes
        re-computed the staged lineage five times per write; now the
        rewritten partitions (or the increment's lineage) are read once.

        Per-structure semantics are unchanged: ``merge`` widens zone
        bounds / ORs bitmaps (append), ``replace`` swaps the touched
        partitions' entries (partition overwrite / mutation recompute),
        ``reset`` rebuilds from scratch. Deletes/compaction leave the
        entries of surviving partitions untouched: stale bounds/bits
        only cost pruning tightness, never correctness (``_commit``
        drops the entries of partitions that vanish). Every partition
        present in ``staged`` gets an entry for every maintained
        structure — an all-NULL or empty column still lands an empty
        bitmap, or the
        coverage checks in the prune methods would disable the index
        forever. ``zone``/``bloom_cols``/``ngram_cols`` restrict the
        maintained set (the ``add_*_index`` backfills refresh exactly
        one structure); ``None`` means every declared one.

        Shuffle cost is the same as the separate passes it fuses: the
        position explode is map-side collect_set-combined, so at most
        ``bits`` positions per structure per touched partition cross
        the exchange, and zone min/max ride the same exchange (their
        values are duplicated per exploded position, which min/max
        ignore). ``meta`` is the caller's held dict; it is updated in
        place and saved."""
        zcol, part = self._zone_spec(meta)
        if not zone or zcol is None or zcol not in staged.columns:
            zcol = None
        bloom_idxs = meta.get("bloom_indexes") or {}
        ngram_idxs = meta.get("ngram_bloom_indexes") or {}
        if bloom_cols is None:
            bloom_cols = list(bloom_idxs)
        if ngram_cols is None:
            ngram_cols = list(ngram_idxs)
        bloom_cols = [c for c in bloom_cols if c in staged.columns]
        ngram_cols = [c for c in ngram_cols if c in staged.columns]
        if zcol is None and not bloom_cols and not ngram_cols:
            return
        if part is None:
            part = meta["partition_by"][0]
        # One tagged-position array per bloom structure: struct(i, p)
        # where i indexes `structs` — a single explode carries every
        # structure's positions through one shuffle.
        structs: list = []
        arrs: list = []
        empty = F.array().cast("array<int>")

        def _tag(i: int):
            # NB: must stay a ONE-argument lambda — F.transform treats a
            # two-argument function as (element, array_index).
            return lambda p: F.struct(F.lit(i).alias("i"), p.alias("p"))

        for c in bloom_cols:
            idx = bloom_idxs[c]
            structs.append(("bloom", c, idx))
            pos = F.when(
                F.col(c).isNotNull(),
                self._bloom_positions(F.col(c), idx["bits"], idx["k"]),
            ).otherwise(empty)
            arrs.append(F.transform(pos, _tag(len(structs) - 1)))
        for c in ngram_cols:
            idx = ngram_idxs[c]
            structs.append(("ngram", c, idx))
            pos = F.when(
                F.col(c).isNotNull(),
                self._ngram_positions(
                    F.col(c), idx["n"], idx["bits"], idx["k"]
                ),
            ).otherwise(empty)
            arrs.append(F.transform(pos, _tag(len(structs) - 1)))
        sel = [F.col(part).alias("_p")]
        aggs = []
        if zcol is not None:
            sel.append(F.col(zcol).alias("_z"))
            aggs += [F.min("_z").alias("_mn"), F.max("_z").alias("_mx")]
        if arrs:
            # explode_outer keeps rows whose position arrays are all
            # empty, so every touched partition reaches the aggregate.
            sel.append(F.explode_outer(F.concat(*arrs)).alias("_tp"))
            aggs.append(F.collect_set("_tp").alias("_ps"))
        rows = staged.select(*sel).groupBy("_p").agg(*aggs).collect()
        zm = None
        if zcol is not None:
            zm = {} if mode == "reset" else dict(meta.get("zone_maps") or {})
        new_filters = [
            {} if mode == "reset" else dict(idx.get("filters") or {})
            for _kind, _c, idx in structs
        ]
        for r in rows:
            key = self._zone_part_key(r["_p"])
            if zcol is not None:
                lo, hi = self._zkey(r["_mn"]), self._zkey(r["_mx"])
                if mode == "merge" and key in zm:
                    old_lo, old_hi = zm[key]
                    # None = unknown bound → stays unknown (prunes as
                    # always-intersecting, the safe direction)
                    lo = (
                        None
                        if (old_lo is None or lo is None)
                        else min(old_lo, lo)
                    )
                    hi = (
                        None
                        if (old_hi is None or hi is None)
                        else max(old_hi, hi)
                    )
                zm[key] = [lo, hi]
            if structs:
                per: list[list] = [[] for _ in structs]
                for tp in r["_ps"] or []:
                    if tp is not None:
                        per[tp["i"]].append(tp["p"])
                for i, (_kind, _c, idx) in enumerate(structs):
                    buf = bytearray(idx["bits"] // 8)
                    for p in per[i]:
                        buf[p >> 3] |= 1 << (p & 7)
                    filters = new_filters[i]
                    if mode == "merge" and key in filters:
                        old = bytes.fromhex(filters[key])
                        buf = bytearray(a | b for a, b in zip(buf, old))
                    filters[key] = bytes(buf).hex()
        if zcol is not None:
            meta["zone_maps"] = zm
        for i, (kind, c, idx) in enumerate(structs):
            idx["filters"] = new_filters[i]
            if kind == "bloom":
                bloom_idxs[c] = idx
                meta["bloom_indexes"] = bloom_idxs
            else:
                ngram_idxs[c] = idx
                meta["ngram_bloom_indexes"] = ngram_idxs
        self._save_meta(name, meta)

    def zone_prune_partitions(
        self, name: str, col: str, lo=None, hi=None, *, meta=None, listing=None
    ) -> list[str] | None:
        """Partition values whose [min, max] zone intersects [lo, hi] —
        or None when pruning isn't safe (no maps for this column, or a
        partition on disk has no entry, e.g. a table written before the
        feature existed; callers then fall back to a full scan).
        ``meta``/``listing``: the table's meta and ``data/`` listing when
        the caller already holds them (``_pruned``)."""
        meta = self._meta(name) if meta is None else meta
        zcol, part = self._zone_spec(meta)
        zm = meta.get("zone_maps")
        if zcol != col or not zm or not self._covers(name, listing, zm):
            return None
        klo, khi = self._zkey(lo), self._zkey(hi)
        return sorted(
            k
            for k, (mn, mx) in zm.items()
            if (khi is None or mn is None or mn <= khi)
            and (klo is None or mx is None or mx >= klo)
        )

    def _covers(self, name: str, listing, keys) -> bool:
        """Every partition on disk has an entry in ``keys`` — the
        coverage contract of all skip indexes: a partition written
        before an index existed has no entry and must not be pruned,
        so the prune methods return None (full scan) instead.
        ``listing`` None lists ``data/`` here."""
        if listing is None:
            listing = self._listing(name)
        on_disk = {
            urllib.parse.unquote(e.split("=", 1)[1]) for e in listing if "=" in e
        }
        return on_disk <= set(keys)

    def _bloom_keep(self, filters: dict, positions: Column) -> list[str]:
        """Partition keys whose bitmap has every bit of ``positions``
        set — the probe of the equality and n-gram blooms. The
        positions come from the JVM hash on a 1-row relation, so probe
        and build agree bit-for-bit. The relation is a ``VALUES`` row,
        not ``range(1)``: the optimizer folds the projection over a
        local relation into a ``LocalTableScan`` that the driver
        evaluates itself, while a ``range`` runs a one-task job."""
        pos = (
            self.spark.sql("SELECT * FROM VALUES (0) AS t(_z)")
            .select(positions.alias("_p"))
            .first()["_p"]
        )
        bitmaps = {key: bytes.fromhex(hx) for key, hx in filters.items()}
        return sorted(
            key
            for key, buf in bitmaps.items()
            if all((buf[p >> 3] >> (p & 7)) & 1 for p in pos)
        )

    @classmethod
    def _part_in(cls, col: Column, keys) -> Column:
        """NULL-total predicate "partition value is one of ``keys``",
        keys being decoded directory-name values (``_zone_part_key``).
        ``CAST(NULL AS STRING)`` is NULL and never matches an isin, so
        the Hive NULL key gets an explicit isNull arm, and the isin is
        coalesced to False so callers may negate the predicate. Over
        partition columns only, Catalyst applies it as a partition
        filter: pruned directories are never listed or opened."""
        keys = list(keys)
        return F.coalesce(
            col.cast("string").isin([k for k in keys if k != cls._HIVE_NULL]),
            F.lit(False),
        ) | (col.isNull() if cls._HIVE_NULL in keys else F.lit(False))

    # -- bloom skip indexes (per-partition bloom filter — equality skipping) --
    #
    # The equality-predicate complement to zone maps: zone maps prune
    # range predicates on the SORT key; a bloom index prunes `col = v`
    # on any declared column, including ones uncorrelated with the
    # partition/sort layout (the ClickHouse `INDEX … TYPE bloom_filter`
    # analog). Per partition we keep an m-bit / k-hash bloom of the
    # column's values; a probe keeps only partitions whose filter has
    # all k bits set for v. Stale bits (deletes, compaction) cost
    # pruning tightness, never correctness — same contract as zone maps.

    def add_bloom_index(
        self, name: str, col: str, bits: int = 4096, k: int = 5
    ) -> None:
        """Declare a bloom skip index on ``col`` and backfill it from any
        rows already on disk. ``bits`` must be a multiple of 8 (the
        bitmap is byte-encoded); 4096/5 gives <1% false positives up to
        ~400 distinct values per partition — at 100 TB the meta cost is
        bits/8 bytes per partition per index (0.5 KiB default), and the
        per-append maintenance cost is one aggregate over the INCREMENT
        whose output is capped at ``bits`` positions per touched
        partition."""
        if bits % 8:
            raise ValueError("bits must be a multiple of 8")
        meta = self._meta(name)
        if len(meta["partition_by"]) != 1:
            raise ValueError("bloom indexes need a single-column partition layout")
        existing = self._read(name, meta, self._listing(name))
        if col not in existing.columns:
            raise ValueError(f"no column {col} in table {name}")
        dtype = existing.schema[col].dataType.simpleString()
        idxs = dict(meta.get("bloom_indexes") or {})
        idxs[col] = {"bits": bits, "k": k, "dtype": dtype, "filters": {}}
        meta["bloom_indexes"] = idxs
        self._save_meta(name, meta)
        self._update_indexes(
            name, meta, existing, mode="reset",
            zone=False, bloom_cols=[col], ngram_cols=[],
        )

    @staticmethod
    def _bloom_positions(col: Column, bits: int, k: int) -> Column:
        """k bit positions for one value: ``xxhash64(value, i) mod bits``
        for i in 0..k-1 — the JVM-side hash, so build and probe agree
        bit-for-bit (the probe runs the same expression on a 1-row local
        relation rather than reimplementing xxhash64 in Python)."""
        return F.array(
            *[
                F.pmod(F.xxhash64(col, F.lit(i)), F.lit(bits)).cast("int")
                for i in range(k)
            ]
        )


    # -- n-gram bloom skip indexes (substring-predicate skipping) --------
    #
    # The LIKE-'%needle%' complement to the equality bloom: per
    # partition, a bloom over every character n-gram of the column's
    # values (the ClickHouse `INDEX … TYPE ngrambf_v1` analog). A
    # substring probe requires ALL n-grams of the needle to be present,
    # so partitions lacking any one of them provably cannot contain a
    # match. Case-sensitive, like the engine's `contains`. Stale bits
    # cost tightness, never correctness — same contract as the other
    # skip indexes.

    def add_ngram_bloom_index(
        self, name: str, col: str, n: int = 3, bits: int = 8192, k: int = 3
    ) -> None:
        """Declare an n-gram bloom skip index on string column ``col``
        and backfill from disk. Default 8192/3 bits/hashes: n-gram sets
        are denser than value sets (a 100-char string has ~98 trigrams),
        so the bitmap is bigger and k smaller than the equality bloom's.
        Meta cost: bits/8 bytes per partition (1 KiB default)."""
        if bits % 8:
            raise ValueError("bits must be a multiple of 8")
        meta = self._meta(name)
        if len(meta["partition_by"]) != 1:
            raise ValueError(
                "ngram bloom indexes need a single-column partition layout"
            )
        existing = self._read(name, meta, self._listing(name))
        if col not in existing.columns:
            raise ValueError(f"no column {col} in table {name}")
        idxs = dict(meta.get("ngram_bloom_indexes") or {})
        idxs[col] = {"n": n, "bits": bits, "k": k, "filters": {}}
        meta["ngram_bloom_indexes"] = idxs
        self._save_meta(name, meta)
        self._update_indexes(
            name, meta, existing, mode="reset",
            zone=False, bloom_cols=[], ngram_cols=[col],
        )

    @staticmethod
    def _ngram_positions(col: Column, n: int, bits: int, k: int) -> Column:
        """Bit positions for ALL n-grams of one string value: the
        distinct n-grams via a substring generator, then k xxhash64
        positions per gram — the same JVM hash family as the equality
        bloom, so build and probe agree bit-for-bit."""
        grams = F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(col) - (n - 1), F.lit(0)),
                ),
                lambda i: F.substring(col, i, n),
            )
        )
        return F.flatten(
            F.transform(
                grams,
                lambda g: F.array(
                    *[
                        F.pmod(F.xxhash64(g, F.lit(i)), F.lit(bits)).cast(
                            "int"
                        )
                        for i in range(k)
                    ]
                ),
            )
        )

    def ngram_prune_partitions(
        self, name: str, col: str, needle: str, *, meta=None, listing=None
    ) -> list[str] | None:
        """Partition values that may contain ``needle`` as a substring
        of ``col`` — or None when pruning isn't safe (no index, needle
        shorter than the indexed n, or a partition on disk with no
        entry). Every n-gram of the needle must have all its bits set.
        ``meta``/``listing`` as in ``zone_prune_partitions``."""
        meta = self._meta(name) if meta is None else meta
        idx = (meta.get("ngram_bloom_indexes") or {}).get(col)
        if idx is None or needle is None or len(needle) < idx["n"]:
            return None
        filters = idx.get("filters") or {}
        if not self._covers(name, listing, filters):
            return None
        return self._bloom_keep(
            filters,
            self._ngram_positions(F.lit(needle), idx["n"], idx["bits"], idx["k"]),
        )

    def read_like(self, name: str, col: str, needle: str) -> DataFrame:
        """Substring read with n-gram-bloom data skipping: ``col LIKE
        '%needle%'`` becomes a partition ``isin`` pruned at planning
        time, then the exact ``contains`` applies on survivors. Without
        an applicable index (or a needle shorter than n) this degrades
        to an ordinary filtered full scan."""
        df = self._pruned(
            name, self._meta(name), self.ngram_prune_partitions, col, needle
        )
        return df.filter(F.col(col).contains(F.lit(needle)))

    def _pruned(self, name: str, meta: dict, prune, *args) -> DataFrame:
        """The table's read restricted to the partitions the prune
        method ``prune(name, *args)`` keeps (skip indexes need a single
        partition column); ``None`` keeps everything. The caller's meta
        and one ``data/`` listing serve both the probe and the scan."""
        listing = self._listing(name)
        keep = prune(name, *args, meta=meta, listing=listing)
        df = self._read(name, meta, listing)
        if keep is None:
            return df
        return df.filter(self._part_in(F.col(meta["partition_by"][0]), keep))

    # -- projections (pre-aggregated alternate representation) -----------
    #
    # The ClickHouse `ALTER TABLE … ADD PROJECTION (SELECT … GROUP BY …)`
    # / SummingMergeTree-materialized-view analog: a declared group-by +
    # sum aggregate maintained INCREMENTALLY — every append writes one
    # partial-aggregate batch (≤ |group keys| rows) into the projection
    # directory, and a projection read merges the partials instead of
    # scanning the fact table. History is never rescanned on ingest; a
    # dashboard group-by over a 100 TB fact reads MBs of partials.
    # Restricted to tables WITHOUT a dedup key (append-only aggregate
    # semantics — a Replacing table's latest_view can silently shrink
    # sums). Deletes and overwrites mark the projection STALE; the next
    # projection read rebuilds it from the table (correctness first,
    # incrementality resumes after).

    def add_projection(
        self,
        name: str,
        proj: str,
        group_by: list[str],
        sum_cols: list[str],
    ) -> None:
        """Declare projection ``proj`` = SELECT group_by, sum(sum_cols),
        count(*) GROUP BY group_by, and backfill it from disk. Only
        decomposable aggregates ride here (sum + the `_rows` count
        partial, which also answers COUNT(*) and AVG = sum/_rows)."""
        meta = self._meta(name)
        if meta.get("dedup_key"):
            raise ValueError(
                "projections need an append-only table (no dedup key): "
                "last-write-wins rewrites history and partial sums would "
                "double-count superseded rows"
            )
        projs = dict(meta.get("projections") or {})
        projs[proj] = {
            "group_by": list(group_by),
            "sum_cols": list(sum_cols),
            "stale": False,
        }
        meta["projections"] = projs
        self._save_meta(name, meta)
        self._rebuild_projection(name, meta, proj)

    def _proj_dir(self, name: str, proj: str) -> str:
        return join(self.path(name), f"proj_{proj}")

    def _partial_agg(self, df: DataFrame, spec: dict) -> DataFrame:
        return df.groupBy(*spec["group_by"]).agg(
            *[F.sum(c).alias(c) for c in spec["sum_cols"]],
            F.count(F.lit(1)).alias("_rows"),
        )

    def _rebuild_projection(self, name: str, meta: dict, proj: str) -> None:
        spec = meta["projections"][proj]
        out = self._partial_agg(self._read(name, meta, self._listing(name)), spec)
        tmp = self._proj_dir(name, proj) + ".rebuilding"
        out.write.mode("overwrite").parquet(tmp)
        final = self._proj_dir(name, proj)
        if self.fs.exists(final):
            self.fs.delete(final)
        self.fs.rename(tmp, final)
        spec["stale"] = False
        spec["as_of_seq"] = meta["ingest_seq"]
        meta["projections"][proj] = spec
        self._save_meta(name, meta)

    def _update_projections(self, name: str, meta: dict, staged: DataFrame) -> None:
        """Append path: one partial-aggregate batch per projection over
        the INCREMENT — output bounded by the increment's distinct key
        count, shuffles partial-aggregated map-side.

        Crash consistency: the data parquet commits FIRST (in _append()),
        then each partial lands here. Unlike zone maps/blooms (pruning
        hints — a gap only widens scans), projection partials are
        correctness-bearing: a crash between the two steps would serve
        under-counted sums forever. So each spec records the ingest_seq
        its partials cover AFTER the partial write commits; a spec whose
        ``as_of_seq`` lags ``meta['ingest_seq']`` is detected in
        read_projection and rebuilt through the existing stale path."""
        projs = meta.get("projections") or {}
        for proj, spec in projs.items():
            if spec.get("stale"):
                continue
            self._partial_agg(staged, spec).write.mode("append").parquet(
                self._proj_dir(name, proj)
            )
            spec["as_of_seq"] = meta["ingest_seq"]
            meta["projections"][proj] = spec
            self._save_meta(name, meta)

    def _mark_projections_stale(self, name: str, meta: dict) -> None:
        projs = meta.get("projections") or {}
        if not projs:
            return
        for spec in projs.values():
            spec["stale"] = True
        meta["projections"] = projs
        self._save_meta(name, meta)

    def read_projection(self, name: str, proj: str) -> DataFrame:
        """The projection's merged view: group keys + exact sums +
        ``_rows`` (COUNT(*)). Reads ONLY the partial batches — the fact
        table is untouched unless a delete/overwrite marked the
        projection stale, in which case it is rebuilt once here and
        incrementality resumes."""
        meta = self._meta(name)
        spec = (meta.get("projections") or {}).get(proj)
        if spec is None:
            raise ValueError(f"no projection {proj} on table {name}")
        if spec.get("stale") or spec.get("as_of_seq") != meta["ingest_seq"]:
            # as_of_seq lag = a crash landed the data batch but not its
            # projection partial; rebuild once, incrementality resumes.
            self._rebuild_projection(name, meta, proj)
            spec = meta["projections"][proj]
        # The partials' schema is the partial aggregate's over the
        # declared schema: analysis of an empty frame, no job.
        schema = self._partial_agg(self._empty(meta), spec).schema
        parts = self.spark.read.schema(schema).parquet(self._proj_dir(name, proj))
        return parts.groupBy(*spec["group_by"]).agg(
            *[F.sum(c).alias(c) for c in spec["sum_cols"]],
            F.sum("_rows").alias("_rows"),
        )

    def bloom_prune_partitions(
        self, name: str, col: str, value, *, meta=None, listing=None
    ) -> list[str] | None:
        """Partition values whose bloom filter may contain ``value`` — or
        None when pruning isn't safe (no index on this column, NULL
        probe, or a partition on disk with no entry: callers fall back
        to a full scan, same coverage contract as zone maps).
        ``meta``/``listing`` as in ``zone_prune_partitions``."""
        meta = self._meta(name) if meta is None else meta
        idx = (meta.get("bloom_indexes") or {}).get(col)
        if idx is None or value is None:
            return None
        filters = idx.get("filters") or {}
        if not self._covers(name, listing, filters):
            return None
        return self._bloom_keep(
            filters,
            self._bloom_positions(
                F.lit(value).cast(idx["dtype"]), idx["bits"], idx["k"]
            ),
        )

    def read_eq(self, name: str, col: str, value) -> DataFrame:
        """Point read with bloom-index data skipping: ``col = value`` is
        translated into a partition-value ``isin`` that Catalyst prunes
        at planning time (directories whose bloom filter rules the value
        out are never listed or opened), then the exact predicate applies
        on the surviving partitions. Without an applicable index this
        degrades to an ordinary filtered read."""
        df = self._pruned(
            name, self._meta(name), self.bloom_prune_partitions, col, value
        )
        return df.filter(F.col(col) == F.lit(value))

    def read_where(self, name: str, col: str, lo=None, hi=None) -> DataFrame:
        """Range read with zone-map data skipping: a [lo, hi] predicate
        on the sort key is translated into a partition-value ``isin``
        that Catalyst prunes at planning time (the scan's
        PartitionFilters — directories outside the range are never
        listed or opened), then the exact row predicate applies on the
        surviving partitions. Without applicable maps this degrades to
        an ordinary filtered read (parquet row-group stats still skip
        within files, courtesy of the sorted layout)."""
        df = self._pruned(
            name, self._meta(name), self.zone_prune_partitions, col, lo, hi
        )
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    # -- read paths ----------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        """Raw read — may contain not-yet-compacted duplicate keys (the
        ClickHouse "SELECT without FINAL" view). A data dir holding only
        write markers (``_SUCCESS``/checksums from an empty append, or a
        ``_temporary`` dir mid-write) serves the empty-schema fallback
        like a missing dir — parquet schema inference would fail on it,
        and a read must NEVER mutate storage (deleting here would race a
        concurrent in-flight first write's ``_temporary`` dir)."""
        return self._read(name, self._meta(name), self._listing(name))

    def _listing(self, name: str) -> list[str]:
        """Child names of the table's ``data/`` dir (``[]`` when it does
        not exist): listed once per public read and passed down with
        the meta, like it."""
        data = join(self.path(name), "data")
        return self.fs.listdir(data) if self.fs.exists(data) else []

    def _read(self, name: str, meta: dict, listing: list[str]) -> DataFrame:
        """``read`` over the meta and ``data/`` listing the caller holds."""
        if all(e.startswith(("_", ".")) for e in listing):
            return self._empty(meta)
        data = join(self.path(name), "data")
        return self._scan(meta, data, [data])

    def _empty(self, meta: dict) -> DataFrame:
        """An empty frame of the table's read schema (``_declared``)."""
        return self.spark.createDataFrame([], _declared(meta))

    def _scan(self, meta: dict, base: str, dirs: list[str]) -> DataFrame:
        """Parquet scan of ``dirs`` (``base`` or partition dirs under
        it) under the declared schema — ``read`` and the mutations'
        affected-partition reads share it, so a rewrite sees evolved
        columns exactly as a read does. The declared schema spares the
        footer-inference job. Files written before add_column() lack
        the evolved columns, which read as NULL; the declared DEFAULT
        backfills them lazily, the ClickHouse ALTER ADD COLUMN
        semantic: no data rewrite, old rows read as the default.
        compact() materializes it physically."""
        df = (
            self.spark.read.schema(_declared(meta))
            .option("basePath", base)
            .parquet(*dirs)
        )
        fill = {
            c: F.coalesce(F.col(c), F.lit(default).cast(dtype))
            for c, (dtype, default) in (meta.get("evolved_defaults") or {}).items()
            if default is not None
        }
        return df.withColumns(fill) if fill else df

    def current_seq(self, name: str) -> int:
        """The last committed ingest-sequence number — pair with
        ``read_since`` for incremental consumption."""
        return self._meta(name)["ingest_seq"]

    def read_since(self, name: str, seq: int) -> DataFrame:
        """Incremental consumption — the store as a CDC source: rows
        appended by batches AFTER sequence ``seq``. A downstream job
        remembers ``current_seq()`` at each run and reads only the
        delta; because every append stamps one constant
        ``_ingest_seq`` per batch, the predicate is satisfied or
        refuted by each file's parquet min/max stats, so old files are
        pruned at the row-group level without any manifest — the scan
        cost tracks the delta, not the table."""
        return self.read(name).filter(F.col(INGEST_SEQ_COL) > F.lit(seq))

    def read_as_of(self, name: str, seq: int) -> DataFrame:
        """Time travel over the append history: the table as it stood
        when ``current_seq()`` returned ``seq`` — the complement of
        ``read_since`` (as_of(s) ∪ since(s) ≡ read, disjointly). Same
        storage trick: the constant per-batch ``_ingest_seq`` lets
        parquet row-group stats refute ``<= seq`` for every newer
        file, so reading an old snapshot prunes the NEW data rather
        than scanning it — snapshot cost tracks the snapshot, not the
        table's growth. Contract (documented, not hidden): snapshots
        reflect APPEND history only — a physical ``delete_where`` or
        partition overwrite rewrites files and is visible at every
        seq, exactly like any log-compacted store. ``optimize`` (pure
        file-layout maintenance) preserves row-level ``_ingest_seq``,
        so snapshots survive it; ``compact`` (dedup merge) folds
        history into the current seq, the same way a ClickHouse
        background merge erases pre-merge row versions."""
        return self.read(name).filter(F.col(INGEST_SEQ_COL) <= F.lit(seq))

    def latest_view(self, name: str) -> DataFrame:
        """Dedup-on-read: per dedup key keep the latest version — the
        deterministic ``SELECT … FINAL``.

        ReplacingMergeTree keeps the physically-last insert per ORDER BY
        key (``v2/sql/create_tables.sql:15``); the winner is max
        (version_col, _ingest_seq) so it's deterministic even for
        same-version rows (NULL version loses to any non-NULL, same as
        the descending-window formulation).

        Plan: a ``max_by`` AGGREGATE rather than a row_number window —
        partial aggregation keeps one candidate row per key per map
        task, so only candidates cross the shuffle and nothing sorts.
        On a table that is mostly-deduped already this shuffles a
        fraction of the data the window shuffled, and a hot key (the
        classic Replacing skew case) combines map-side instead of
        piling into a single sort partition.
        """
        return self._latest_view(name, self._meta(name))

    def _latest_view(self, name: str, meta: dict) -> DataFrame:
        if meta.get("sum_cols"):
            # On a summing table "latest per key" would silently DROP
            # accumulated partials — the merged state is the SUM, not
            # the last row. Refuse loudly, like MERGE on dedup tables.
            raise ValueError(
                f"table {name} declares sum_cols; use summing_view "
                "(latest-per-key would discard accumulated partials)"
            )
        df = self._read(name, meta, self._listing(name))
        key = meta["dedup_key"]
        if not key:
            return df.drop(INGEST_SEQ_COL)
        payload = [c for c in df.columns if c not in key and c != INGEST_SEQ_COL]
        order_fields = []
        if meta.get("version_col"):
            order_fields.append(F.col(meta["version_col"]))
        order_fields.append(F.col(INGEST_SEQ_COL))
        pick = F.max_by(
            F.struct(*[F.col(c).alias(c) for c in payload]),
            F.struct(*order_fields),
        ).alias("_w")
        out = df.groupBy(*[F.col(k) for k in key]).agg(pick)
        # preserve the table's column order
        final = [c for c in df.columns if c != INGEST_SEQ_COL]
        return out.select(
            *[
                F.col(c) if c in key else F.col(f"_w.{c}").alias(c)
                for c in final
            ]
        )

    def summing_view(self, name: str) -> DataFrame:
        """Merge-on-read for a SummingMergeTree-style table: one row per
        (dedup key × partition) with ``sum_cols`` FOLDED BY SUM across
        every accumulated partial row — ClickHouse SummingMergeTree
        semantics, where appends are cheap partial rows and merges add
        them up. Folding never crosses partition directories (CH merges
        are per-partition: the same key in two months stays two rows).
        Non-key, non-summed payload columns take the value from the
        latest batch (max by ``(_ingest_seq, value)`` — deterministic
        where ClickHouse documents "any").

        Plan: a single partial-aggregated groupBy — sums combine
        map-side, so a hot key accumulates in each map task instead of
        shuffling every partial row."""
        return self._summing_view(name, self._meta(name))

    def _summing_view(self, name: str, meta: dict) -> DataFrame:
        sum_cols = meta.get("sum_cols") or []
        key = meta["dedup_key"]
        if not sum_cols:
            raise ValueError(
                f"table {name} declares no sum_cols; use latest_view"
            )
        if not key:
            raise ValueError(f"summing table {name} needs a dedup_key")
        df = self._read(name, meta, self._listing(name))
        parts = [p for p in meta["partition_by"] if p in df.columns]
        group = list(key) + parts
        payload = [
            c
            for c in df.columns
            if c not in group and c not in sum_cols and c != INGEST_SEQ_COL
        ]
        aggs = [F.sum(F.col(c)).alias(c) for c in sum_cols] + [
            F.max_by(F.col(c), F.struct(F.col(INGEST_SEQ_COL), F.col(c)))
            .alias(c)
            for c in payload
        ]
        out = df.groupBy(*[F.col(g) for g in group]).agg(*aggs)
        final = [c for c in df.columns if c != INGEST_SEQ_COL]
        return out.select(*final)

    def compact(self, name: str) -> None:
        """Background-merge analog: collapse duplicate dedup keys on disk.

        For partitioned tables with a dedup key this is PARTITION-WISE:
        only partitions that actually contain duplicate keys are
        rewritten and swapped (mirrors ClickHouse, whose background
        merges — and REPLACE PARTITION — are per-partition; a 100 TB
        table with one hot month compacts only that month). Unpartitioned
        or keyless tables fall back to a full rewrite. ``latest_view``
        remains the globally-correct read regardless of compaction state.
        """
        meta = self._meta(name)
        parts = meta["partition_by"]
        data = join(self.path(name), "data")
        if not self.fs.exists(data):
            return
        if meta.get("sum_cols"):
            # SummingMergeTree fold: the merged state IS the sum, so
            # compaction materializes summing_view (per-partition fold,
            # full rewrite). Post-compact appends keep accumulating —
            # sums of sums are the same sums.
            latest = self._summing_view(name, meta)
        elif parts and meta["dedup_key"]:
            self._compact_partitionwise(name, meta)
            return
        else:
            latest = self._latest_view(name, meta)
        out = latest.withColumn(
            INGEST_SEQ_COL, F.lit(meta["ingest_seq"]).cast("bigint")
        )
        self._commit(
            name,
            meta,
            self._layout(out, meta),
            self._partition_rel_dirs(data, len(parts)),
        )

    def optimize(
        self, name: str, target_bytes: int = 128 << 20
    ) -> dict[str, tuple[int, int]]:
        """Small-file compaction (the OPTIMIZE TABLE analog, file-count
        only — ``compact()`` owns dedup-merge semantics): every
        partition whose data directory holds more files than
        ceil(total_bytes / target_bytes) is rewritten to exactly that
        many, rows preserved bit-for-bit, and swapped in through
        ``_commit`` like every rewrite. Returns
        {partition_rel_dir: (files_before, files_after)} for rewritten
        partitions only — untouched partitions are never read.

        Why it matters at scale: a streaming or micro-batch ingest lays
        down one file per trigger per partition; a year of 5-minute
        batches is ~100k files per partition, and scan planning +
        object-store listing collapse long before the data does. The
        128 MiB default matches the classic HDFS/object-store split
        size. Sharded tables rewrite through a hash repartition on the
        shard key (co-location preserved); sorted tables re-sort within
        the rewritten files (concatenating sorted files is not sorted —
        the zone-map / row-group-stats contract survives). Runs under
        the table's single-writer contract, like every maintenance op.
        """
        meta = self._meta(name)
        data = join(self.path(name), "data")
        if not self.fs.exists(data):
            return {}
        sort_by = meta.get("sort_by") or []
        shard_by = meta.get("shard_by")
        unit = _declared(meta, unit=True)
        staged: dict[str, DataFrame] = {}
        rewritten: dict[str, tuple[int, int]] = {}
        for rel in self._partition_rel_dirs(data, len(meta["partition_by"])):
            d = self._unit(data, rel)
            files = [
                (n, s)
                for n, s in self.fs.file_sizes(d)
                if not n.startswith(("_", "."))
            ]
            total = sum(s for _, s in files)
            want = max(1, -(-total // target_bytes))
            if len(files) <= want:
                continue
            df = self.spark.read.schema(unit).parquet(d)
            df = (
                df.repartition(want, F.col(shard_by))
                if shard_by and shard_by in df.columns
                else df.repartition(want)
            )
            if sort_by:
                df = df.sortWithinPartitions(*[F.col(c) for c in sort_by])
            staged[rel] = df
            rewritten[rel] = (len(files), want)
        if staged:
            self._commit(name, meta, staged)
        return rewritten

    @staticmethod
    def _morton(x: Column, y: Column, nbits: int) -> Column:
        """Interleave the low ``nbits`` bits of two non-negative ints —
        the Z-order curve value. Pure codegen (shift/mask/or terms)."""
        z = F.lit(0).cast("long")
        for i in range(nbits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(
                    F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
                )
            )
        return z

    def optimize_zorder(
        self,
        name: str,
        cols: list[str],
        nbits: int = 8,
        files: int = 8,
    ) -> None:
        """Z-ORDER clustering rewrite (the Delta `OPTIMIZE … ZORDER BY`
        analog): relayout every partition's files along the Morton
        curve of TWO numeric columns, so parquet row-group min/max
        stats become tight in BOTH dimensions at once and a pushed
        two-column predicate skips most files — multi-dimensional data
        skipping where a single sort key can only serve one dimension.

        Rows are preserved bit-for-bit (layout-only, like ``optimize``;
        row-level ``_ingest_seq`` survives so time travel does too).
        Each column is linearly scaled to [0, 2^nbits) using its
        TABLE-WIDE min/max from one aggregate scan — rank bucketing
        would equalize skewed distributions but costs a global sort;
        linear scaling matches the zone-map semantics and is the
        standard first cut. The rewrite is ``repartitionByRange`` on
        the z-value + sort within files, swapped in through ``_commit``
        like every rewrite."""
        if len(cols) != 2:
            raise ValueError("optimize_zorder takes exactly two columns")
        meta = self._meta(name)
        data = join(self.path(name), "data")
        if not self.fs.exists(data):
            return
        full = self._read(name, meta, self._listing(name))
        for c in cols:
            if c not in full.columns:
                raise ValueError(f"no column {c} in table {name}")
        b = full.agg(
            *[
                f(F.col(c).cast("double")).alias(f"_{i}{j}")
                for j, c in enumerate(cols)
                for i, f in (("mn", F.min), ("mx", F.max))
            ]
        ).first()

        def scaled(c: str, j: int) -> Column:
            lo, hi = b[f"_mn{j}"], b[f"_mx{j}"]
            span = (hi - lo) or 1.0
            v = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
            v = F.least(F.greatest(v, F.lit(0.0)), F.lit(1.0))
            return F.least(
                F.floor(v * (1 << nbits)).cast("long"),
                F.lit((1 << nbits) - 1),
            )

        zv = self._morton(scaled(cols[0], 0), scaled(cols[1], 1), nbits)
        staged = {}
        unit = _declared(meta, unit=True)
        for rel in self._partition_rel_dirs(data, len(meta["partition_by"])):
            df = self.spark.read.schema(unit).parquet(self._unit(data, rel))
            staged[rel] = (
                df.withColumn("_zv", zv)
                .repartitionByRange(files, F.col("_zv"))
                .sortWithinPartitions("_zv")
                .drop("_zv")
            )
        self._commit(name, meta, staged)

    def _partition_rel_dirs(self, base: str, depth: int) -> list[str]:
        """Relative partition directories exactly ``depth`` levels under
        ``base``, AS WRITTEN BY SPARK — including Hive escaping and
        ``__HIVE_DEFAULT_PARTITION__`` for NULLs. Reading the names back
        instead of reconstructing them from values (``str(v)``) is what
        makes NULL/timestamp/boolean partition values safe. Depth 0 (an
        unpartitioned table) yields the whole-table unit ``"."``."""
        out: list[str] = []

        def walk(d: str, rel: str, k: int) -> None:
            if k == 0:
                out.append(rel)
                return
            for entry in self.fs.list_dirs(d):
                if "=" in entry:
                    walk(join(d, entry), posixpath.normpath(join(rel, entry)), k - 1)

        walk(base, ".", depth)
        return out

    @staticmethod
    def _unit(base: str, rel: str) -> str:
        """Path of unit ``rel`` under ``base`` ("." is ``base`` itself)."""
        return base if rel == "." else join(base, rel)

    def _commit(self, name: str, meta: dict, staged, rels=()) -> None:
        """The one commit of every replace: stage ``staged``, then swap
        it in for the units in ``rels`` (steps 1-4 of the module
        docstring). ``staged`` is a frame written under the table's
        partition layout, or a ``{rel: frame}`` map whose frames are each
        written straight into their unit (layout rewrites that read one
        partition dir at a time). Every staged unit replaces
        its namesake under ``data/``; units in ``rels`` with no staged
        successor vanish. Writes exactly what it is given — no
        exchange, sort or job of its own.

        A crash between trash and swap leaves replaced units only in
        the trash, the only copy of their committed rows; ``vacuum``
        moves them back rather than deleting them."""
        root = self.path(name)
        parts = meta["partition_by"]
        stamp = int(time.time() * 1000)
        data = join(root, "data")
        tmp = join(root, f"data_staging_{stamp}")
        trash = join(root, f"_trash_{stamp}")
        if isinstance(staged, dict):
            for rel, frame in staged.items():
                self._conform(frame, meta).write.mode("overwrite").parquet(
                    self._unit(tmp, rel)
                )
        else:
            self._conform(staged, meta).write.mode("overwrite").partitionBy(
                *parts
            ).parquet(tmp)
        new = (
            self._partition_rel_dirs(tmp, len(parts))
            if self.fs.exists(tmp)
            else []
        )
        moves = [
            (data, trash, r)
            for r in sorted({*rels, *new})
            if self.fs.exists(self._unit(data, r))
        ] + [(tmp, data, r) for r in new]
        for src, dst, r in moves:
            if r != ".":  # a partition dir's parent may not exist yet
                self.fs.mkdirs(posixpath.dirname(self._unit(dst, r)))
            self.fs.rename(self._unit(src, r), self._unit(dst, r))
        # Staging goes first: its absence tells vacuum the swap is done.
        self.fs.delete(tmp)
        gone = set(rels) - set(new)
        if parts and gone and not any("=" in e for e in self.fs.listdir(data)):
            self.fs.delete(data)
        self._forget_partitions(name, meta, gone)
        self.fs.delete(trash)

    def _forget_partitions(self, name: str, meta: dict, rels) -> None:
        """Drop the zone-map and (n-gram-)bloom entries of the vanished
        partition units ``rels`` in one meta write, so the meta tracks
        the live partitions instead of growing with every expired one.
        Runs once the swap is done: a crash before it leaves stale
        entries, which cost pruning tightness, never correctness.
        Skip indexes need a single partition column, so no other layout
        has entries to drop."""
        if len(meta["partition_by"]) != 1 or not rels:
            return
        keys = {urllib.parse.unquote(r.split("=", 1)[1]) for r in rels}
        maps = [meta.get("zone_maps") or {}] + [
            idx.get("filters") or {}
            for kind in ("bloom_indexes", "ngram_bloom_indexes")
            for idx in (meta.get(kind) or {}).values()
        ]
        stale = [(m, k) for m in maps for k in keys & m.keys()]
        for m, k in stale:
            del m[k]
        if stale:
            self._save_meta(name, meta)

    def _compact_partitionwise(self, name: str, meta: dict) -> None:
        """Rewrite only the partitions that hold duplicate dedup keys.

        1. The mutation probe (``_affected``) over one ``_file_dir()``
           row per (directory, key) group with >1 row collects the
           affected partition directories — as Spark wrote them, so
           NULL and escaped partition values need no reconstruction —
           and re-reads only those through ``_scan``.
        2. Within-partition latest-per-key rows (window over
           (partition, key) — same scope as a ClickHouse merge) are
           committed through ``_commit``, each replacing its namesake.
        """
        parts = meta["partition_by"]
        key = meta["dedup_key"]
        df = self._read(name, meta, self._listing(name))
        dups = (
            df.select(*key, _file_dir())
            .groupBy("_dir", *key)
            .count()
            .filter(F.col("count") > 1)
            .select("_dir")
        )
        n_dup, rels, affected = self._affected(name, meta, df, dups)
        if not n_dup:
            return
        order = []
        if meta.get("version_col"):
            order.append(F.col(meta["version_col"]).desc())
        order.append(F.col(INGEST_SEQ_COL).desc())
        w = Window.partitionBy(*[F.col(c) for c in parts + key]).orderBy(*order)
        latest = (
            affected.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        self._commit(name, meta, self._layout(latest, meta), rels)

    # -- metadata (SURVEY §2.7 row 38) ---------------------------------------

    def tables(self) -> list[str]:
        """List table names under this store root (system.tables analog;
        the reference queries ClickHouse system tables, hook.py:42-46)."""
        if not self.fs.exists(self.root):
            return []
        return [
            d
            for d in self.fs.list_dirs(self.root)
            if self.fs.exists(join(self.root, d, META_FILE))
        ]

    def describe(self, name: str) -> dict:
        """Table metadata: fields, layout, ingest sequence, partition
        list (system.parts / DESCRIBE TABLE analog, ``v1/dag.py:88-94``)."""
        meta = self._meta(name)
        return {
            "name": name,
            "fields": [
                {"name": n, "dtype": t, "nullable": nb, "default": d}
                for n, t, nb, d in meta["fields"]
            ],
            "dedup_key": meta["dedup_key"],
            "version_col": meta.get("version_col"),
            "partition_by": meta["partition_by"],
            "sort_by": meta["sort_by"],
            "shard_by": meta.get("shard_by"),
            "ingest_seq": meta["ingest_seq"],
            "partitions": self._partitions(name, meta),
            "stats": (
                dict(
                    meta["stats"],
                    stale=meta["stats"]["as_of_seq"] != meta["ingest_seq"],
                )
                if meta.get("stats")
                else None
            ),
        }

    def analyze(self, name: str) -> dict:
        """ANALYZE TABLE analog: ONE wide aggregate scan computes the
        row count and per-column null count + approximate NDV
        (HyperLogLog — at 100 TB an exact distinct per column is a
        shuffle per column; the sketch rides the same single pass), and
        persists them in the table meta with the ingest sequence they
        were computed at. ``describe`` surfaces them with a ``stale``
        flag once later writes land — the CBO-food freshness contract.
        Returns the stats dict."""
        meta = self._meta(name)
        df = self._read(name, meta, self._listing(name)).drop(INGEST_SEQ_COL)
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in df.columns:
            aggs.append(
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"_n_{c}")
            )
            aggs.append(F.approx_count_distinct(c).alias(f"_d_{c}"))
        row = df.agg(*aggs).first()
        stats = {
            "rows": row["_rows"],
            "columns": {
                c: {"nulls": row[f"_n_{c}"], "ndv": row[f"_d_{c}"]}
                for c in df.columns
            },
            "as_of_seq": meta["ingest_seq"],
        }
        meta["stats"] = stats
        self._save_meta(name, meta)
        return stats

    def partitions(self, name: str) -> list[str]:
        """SHOW PARTITIONS analog (reference lists system.parts,
        ``v1/dag.py:88-94``)."""
        return self._partitions(name, self._meta(name))

    def _partitions(self, name: str, meta: dict) -> list[str]:
        if not meta["partition_by"]:
            return []
        return [e for e in self._listing(name) if "=" in e]

    def set_ttl(self, name: str, expiry_expr: str) -> None:
        """ClickHouse table ``TTL <expr> DELETE`` analog: declare a SQL
        expression computing each row's expiry TIMESTAMP (e.g.
        ``dttm + INTERVAL 30 MONTH``, matching the reference's 30-month
        retention at ``v2/sql/delete_old_data.sql:1-3``). Enforcement is
        explicit (``apply_ttl``) rather than a background merge — the
        Spark-native cadence is a scheduled job, and an explicit call
        keeps the deletion auditable. Fails fast on unresolvable
        expressions, like ``add_check``."""
        meta = self._meta(name)
        self._empty(meta).select(
            F.expr(expiry_expr).cast("timestamp")
        ).schema  # force resolution
        meta["ttl_expr"] = expiry_expr
        self._save_meta(name, meta)

    def apply_ttl(self, name: str) -> int:
        """Enforce the declared TTL: delete every row whose expiry has
        passed (``expiry_expr < now()``), via the partition-pruned
        DELETE machinery — on a time-partitioned table whole expired
        directories drop without a rewrite. Returns rows deleted; 0 if
        no TTL is declared. NULL expiries never expire (SQL unknown),
        same contract as ``delete_where``."""
        meta = self._meta(name)
        expr = meta.get("ttl_expr")
        if not expr:
            return 0
        return self._delete_where(
            name,
            meta,
            F.expr(expr).cast("timestamp") < F.current_timestamp(),
        )

    def read_sample(self, name: str, basis_points: int, key: str) -> DataFrame:
        """ClickHouse ``SELECT … SAMPLE k`` analog: a DETERMINISTIC
        ~basis_points/10000 subset keyed on ``key`` — the same integer
        hash-admission primitive as ``sampling.sample_pct``, so the
        subset is stable across reads, layouts and engines (repeated
        dashboards sample the SAME rows, CH's core SAMPLE property).
        Pure filter over the normal read: combines with partition
        pruning and pushdown untouched."""
        from from_superset_to_clickhouse_spark.operators.sampling import (
            sample_pct,
        )

        return sample_pct(self.read(name), key, basis_points)

    def delete_where(self, name: str, condition) -> int:
        """Retention delete (reference: Postgres ``DELETE … WHERE dttm <
        DATE_TRUNC('MONTH', NOW() - INTERVAL '30 MONTH')``, v2/dag.py:132-135).

        SQL DELETE semantics: rows where the predicate is NULL are KEPT
        (keep-predicate is ``NOT coalesce(cond, false)``). Returns the
        number of deleted rows.

        The delete is PARTITION-PRUNED: one predicate-pushed scan both
        counts matches and collects the affected partition directories
        (``_affected``); only those directories are re-read, rewritten
        without the matching rows, and swapped — a 30-month retention
        delete on a month-partitioned 100 TB table touches only the
        expiring months. An unpartitioned table is one unit and is
        rewritten whole. A partition left without rows vanishes (with
        the last one ``data/`` goes, and ``read()`` serves the
        empty-schema fallback); an unpartitioned table left without
        rows keeps one schema-only file.
        """
        return self._delete_where(name, self._meta(name), condition)

    def _delete_where(self, name: str, meta: dict, condition) -> int:
        if not self.fs.exists(join(self.path(name), "data")):
            return 0
        df = self._read(name, meta, self._listing(name))
        cond = F.coalesce(condition, F.lit(False))
        n_del, rels, affected = self._affected(
            name, meta, df, df.filter(cond).select(_file_dir())
        )
        if n_del:
            self._mark_projections_stale(name, meta)
            self._commit(name, meta, affected.filter(~cond), rels)
        return n_del

    def _affected(self, name: str, meta: dict, df: DataFrame, hits: DataFrame):
        """(hit count, affected unit rel-dirs, affected rows DF) — the
        shared probe of the DELETE/UPDATE/MERGE mutations. ``hits``
        holds one ``_file_dir()`` row per target row the mutation
        touches; ONE aggregate counts them and collects their
        directories (``input_file_name``, so Hive escaping / NULL
        partitions need no reconstruction). The affected rows are the
        hit partitions re-read through ``_scan`` — the schema
        reconciliation of ``read``, so evolved columns are present; an
        unpartitioned table's single unit is ``df`` itself."""
        hit = hits.agg(
            F.count("*").alias("n"), F.collect_set("_dir").alias("dirs")
        ).first()
        if hit["n"] == 0:
            return 0, [], None
        # Relativize the scanned file URIs against the data dir. Works
        # for any scheme: both sides are reduced to their URI path part
        # (a scheme-less local root is absolutized first).
        data = join(self.path(name), "data")
        data_base = data if "://" in data else os.path.abspath(data)
        base_path = urllib.parse.urlparse(data_base).path or data_base
        rels = sorted(
            posixpath.relpath(
                urllib.parse.unquote(urllib.parse.urlparse(u).path), base_path
            )
            for u in hit["dirs"]
        )
        if rels == ["."]:
            return hit["n"], rels, df
        dirs = [join(data_base, r) for r in rels]
        return hit["n"], rels, self._scan(meta, data_base, dirs)

    def update_where(
        self, name: str, condition, assignments: dict[str, Column]
    ) -> int:
        """``ALTER TABLE … UPDATE col = expr WHERE cond`` — the
        ClickHouse mutation analog, partition-pruned exactly like
        ``delete_where``: one predicate-pushed scan finds the affected
        partition directories, only those are rewritten (non-matching
        rows ride through unchanged) and swapped. Assignment RHS
        expressions see the ORIGINAL row (simultaneous-assignment UPDATE
        semantics); rows with a NULL predicate are untouched. Returns
        the number of updated rows.

        Partition columns (and the source columns of derived partitions)
        cannot be assigned — that would move rows between directories;
        use delete + append for re-partitioning mutations. Skip-index
        metadata for the rewritten partitions is RECOMPUTED exactly
        (replace mode) — an update can push values outside the recorded
        zone/bloom coverage, where merely widening would turn pruning
        into wrong answers; projections go stale."""
        if not self.fs.exists(join(self.path(name), "data")):
            return 0
        meta = self._meta(name)
        df = self._read(name, meta, self._listing(name))
        cond = F.coalesce(condition, F.lit(False))
        frozen = self._frozen(meta)
        for col in assignments:
            if col in frozen:
                raise ValueError(
                    f"cannot assign partition(-source) column {col}; "
                    "delete + append to re-partition rows"
                )
            if col not in df.columns:
                raise ValueError(f"no column {col} in table {name}")
        n_upd, rels, affected = self._affected(
            name, meta, df, df.filter(cond).select(_file_dir())
        )
        if n_upd == 0:
            return 0
        self._mark_projections_stale(name, meta)
        updated = affected.select(
            *[
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in affected.columns
            ]
        )
        self._commit(name, meta, updated, rels)
        self._recompute_indexes(name, meta, rels)
        return n_upd

    @staticmethod
    def _frozen(meta: dict) -> set:
        """Columns a mutation may not assign: the partition columns and
        the source column of each derived one (ts_day/ts_month derive
        from ts) — assigning them would move rows between
        directories."""
        parts = meta["partition_by"]
        return set(parts) | {
            p.split("_")[0] for p in parts if p in _DERIVED_PARTITIONS
        }

    @classmethod
    def _rel_filter(cls, parts: list, rels: list) -> Column:
        """NULL-total predicate "row belongs to one of these partition
        rel-dirs", at any partition depth: the row's partition values,
        each as the string its directory name decodes to, are one of
        the rel-dirs' value lists. Spark writes NULL and '' alike into
        the Hive NULL key's directory, so both map to that key. The
        rel-dir values are Hive-ESCAPED ('a:b' → 'a%3Ab'); CAST(col AS
        STRING) yields the unescaped value, so the keys are unquoted —
        the same reconstruction trap _zone_part_key documents. Over
        partition columns only, Catalyst applies it as a partition
        filter."""
        row = F.array(*[
            F.coalesce(
                F.nullif(F.col(p).cast("string"), F.lit("")), F.lit(cls._HIVE_NULL)
            )
            for p in parts
        ])
        dirs = [
            [urllib.parse.unquote(v.split("=", 1)[1]) for v in r.split("/")]
            for r in rels
        ]
        return row.isin([F.array(*map(F.lit, d)) for d in dirs])

    def _recompute_indexes(self, name: str, meta: dict, rels: list) -> None:
        """Recompute (not widen) skip-index metadata for rewritten
        units from their full post-mutation contents — shared by UPDATE
        and MERGE, one fused scan (_update_indexes). A table without
        skip indexes (every unpartitioned one) skips the read."""
        if (
            self._zone_spec(meta)[0] is None
            and not meta.get("bloom_indexes")
            and not meta.get("ngram_bloom_indexes")
        ):
            return
        rewritten = self._read(name, meta, self._listing(name)).filter(
            self._rel_filter(meta["partition_by"], rels)
        )
        self._update_indexes(name, meta, rewritten, mode="replace")

    def merge_into(
        self,
        name: str,
        source: DataFrame,
        on: tuple[str, ...] | list[str],
        update_cols: list[str] | None = None,
        insert: bool = True,
        delete_matched: bool = False,
    ) -> dict:
        """Lakehouse-style MERGE INTO: upsert ``source`` into the table
        on key columns ``on`` — matched target rows are UPDATED from the
        source (or DELETED with ``delete_matched=True``), unmatched
        source rows are INSERTED (``insert=True``). Returns
        ``{"updated": n, "deleted": n, "inserted": n}``.

        Scale shape: ONE key-join scan finds the affected partition
        directories (``input_file_name``, same machinery as
        DELETE/UPDATE); only those partitions rewrite — untouched
        directories are never read again, never written. The inserts
        take the one insert prologue (``_prepare``: one CHECK pass, one
        ingest sequence), then ride the rewrite's commit — every insert
        of an unpartitioned table, and on a partitioned one each insert
        into a rewritten partition; inserts into any other partition,
        existing or new, take the append path (incremental zone/bloom
        maintenance; staging an existing partition would replace it).
        The rewritten partitions' skip indexes are RECOMPUTED (replace
        mode). The not-matched rows are materialized BEFORE the swap — a
        lazy anti-join evaluated after the rewrite would re-read
        post-merge state (and resurrect rows a delete_matched just
        removed).

        Contracts: the source must be key-unique (checked — a dup key
        would make the update non-deterministic); key and
        partition(-source) columns cannot be updated; dedup-keyed
        tables refuse MERGE (their append IS an upsert — use append +
        latest_view/compact).

        Crash window: only inserts into partitions that the merge does
        not rewrite land in a second step, an append after the
        rewrite's commit. A crash between the two leaves the merge
        half-applied (updates and the inserts the commit carried, none
        of the appended ones), and no staging marker records it, so
        ``vacuum`` cannot detect it. Every other merge commits once."""
        meta = self._meta(name)
        if meta.get("dedup_key"):
            raise ValueError(
                "MERGE on a dedup-keyed table is redundant: append is "
                "already an upsert (latest_view/compact collapse by key)"
            )
        on = list(on)
        parts = meta["partition_by"]
        target_cols = [f[0] for f in meta["fields"]]
        frozen = set(on) | self._frozen(meta)
        if update_cols is None:
            update_cols = [
                c
                for c in source.columns
                if c in target_cols and c not in frozen
            ]
        for c in update_cols:
            if c in frozen:
                raise ValueError(
                    f"cannot update key/partition(-source) column {c}"
                )
            if c not in target_cols or c not in source.columns:
                raise ValueError(f"no column {c} in target and source")
        if insert and not set(target_cols) <= set(source.columns):
            missing = sorted(set(target_cols) - set(source.columns))
            raise ValueError(
                f"insert=True needs all target columns in source; missing {missing}"
            )
        from pyspark.sql import Observation

        # A localCheckpointed source has no size statistics, so the
        # planner can never auto-broadcast it and both merge joins fall
        # back to shuffling the TARGET side. The checkpoint job also
        # measures the exact row count and string/binary bytes; with
        # Catalyst's static width for the fixed-width columns that is
        # the sizing rule the planner applies when stats exist. (The
        # static width counts every string as 20 bytes, so a source of
        # long texts would be broadcast at many times the threshold.)
        var_cols = [
            f.name
            for f in source.schema.fields
            if isinstance(f.dataType, (T.StringType, T.BinaryType))
        ]
        src_obs = Observation()
        src = source.observe(
            src_obs,
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.octet_length(F.col(c))).alias(f"b{i}")
                for i, c in enumerate(var_cols)
            ],
        ).localCheckpoint(eager=True)
        src_stats = src_obs.get
        n_src = int(src_stats["n"])
        var_bytes = {
            c: int(src_stats[f"b{i}"] or 0) for i, c in enumerate(var_cols)
        }
        jschema = src._jdf.schema()

        # Hint broadcast only when the estimate for the source columns
        # ``cols`` that ``d`` carries clears the session threshold, so
        # an outsized upsert batch still shuffle-joins.
        def _maybe_broadcast(d: DataFrame, cols: list[str]) -> DataFrame:
            try:
                thr = int(
                    str(
                        self.spark.conf.get(
                            "spark.sql.autoBroadcastJoinThreshold"
                        )
                    ).rstrip("bB")
                )
            except (TypeError, ValueError):
                thr = 10 * 1024 * 1024
            if thr <= 0:
                return d
            est = sum(
                var_bytes[c]
                if c in var_bytes
                else n_src * int(jschema.apply(c).dataType().defaultSize())
                for c in cols
            )
            return F.broadcast(d) if est <= thr else d

        df = self._read(name, meta, self._listing(name))
        src_keys = _maybe_broadcast(src.select(*on).distinct(), on)
        data = join(self.path(name), "data")

        # r16 (guide §2.6): the duplicate-key gate, the not-matched
        # materialization and the hit probe are three independent
        # READ-ONLY jobs over the checkpointed source / target — run
        # them concurrently so the driver round-trips overlap instead
        # of serializing (these small jobs were ~40% of merge wall at
        # sf0.1). Nothing is written until all three have returned, so
        # a duplicate-key failure still aborts before any byte lands.
        def _dup_check() -> int:
            return (
                src.groupBy(*on)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .limit(1)
                .count()
            )

        def _new_rows():
            # Not-matched rows, MATERIALIZED against the pre-merge
            # state; the insert count rides the checkpoint job as an
            # Observation (one scheduler round-trip fewer).
            if not insert:
                return None, None
            obs = Observation()
            return (
                src.join(df.select(*on).distinct(), on, "left_anti")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True),
                obs,
            )

        def _hit_probe():
            if not self.fs.exists(data):
                return 0, [], None
            hits = df.select(*on, _file_dir()).join(src_keys, on)
            return self._affected(name, meta, df, hits)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_dup = pool.submit(_dup_check)
            f_new = pool.submit(_new_rows)
            f_hit = pool.submit(_hit_probe)
            dup = f_dup.result()
            new_rows, new_obs = f_new.result()
            n_hit, rels, affected = f_hit.result()
        if dup:
            raise ValueError("source has duplicate merge keys")
        n_ins = 0
        if insert:
            try:
                n_ins = int(new_obs.get["n"])
            except Exception:
                # An empty anti-join can materialize with zero tasks, in
                # which case the observation collects no metric row (the
                # ingest.py Observation precedent) — the checkpointed
                # frame makes the recount cheap.
                n_ins = new_rows.count()

        n_upd = n_del = 0
        ins = None
        if n_ins:
            meta, ins = self._prepare(name, meta, new_rows.select(*target_cols))
        if n_hit:
            upd_src = _maybe_broadcast(
                src.select(
                    *on,
                    F.lit(1).alias("_m"),
                    *[F.col(c).alias("_src_" + c) for c in update_cols],
                ),
                on + update_cols,
            )
            joined = affected.join(upd_src, on, "left")
            if delete_matched:
                merged = joined.filter(F.col("_m").isNull()).select(
                    *affected.columns
                )
                n_del = n_hit
            else:
                merged = joined.select(
                    *[
                        F.when(F.col("_m").isNotNull(), F.col("_src_" + c))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in update_cols
                        else F.col(c)
                        for c in affected.columns
                    ]
                )
                n_upd = n_hit
            self._mark_projections_stale(name, meta)
            if ins is not None:
                # Inserts into the units being rewritten ANYWAY ride the
                # rewrite's commit — one write, one commit, one index
                # recompute (it reads them): every insert of an
                # unpartitioned table, else those whose partition is in
                # ``rels``. The rest go through the append below: a
                # staged partition replaces its namesake, so folding an
                # insert into a partition the merge does not rewrite
                # would drop that partition's rows. The split count is a
                # cheap aggregate on the CHECKPOINTED frame — an
                # Observation inside the write would never fire when the
                # fold branch is empty (zero tasks).
                whole = rels == ["."]
                fold = F.lit(True) if whole else self._rel_filter(parts, rels)
                n_folded = n_ins if whole else ins.filter(fold).count()
                if n_folded:
                    merged = merged.unionByName(ins.filter(fold))
                ins = ins.filter(~fold) if n_ins > n_folded else None
            # Cluster the rewrite by partition column (guide §6): when
            # the update join shuffles `affected` by the merge key,
            # every reduce task otherwise fans out into every rewritten
            # partition directory — (tasks × partitions) files per
            # merge, growing with core count. Sized from the affected
            # dirs' REAL on-disk bytes (the join's plan-time estimate is
            # a useless row-product): under one advisory partition the
            # rewrite is a single write task either way.
            if parts and sum(
                sz for r in rels for _f, sz in self.fs.file_sizes(join(data, r))
            ) > _ADVISORY_PARTITION_BYTES:
                merged = merged.hint("rebalance", *parts)
            self._commit(name, meta, merged, rels)
            self._recompute_indexes(name, meta, rels)
        if ins is not None:
            self._append(name, meta, ins)
        return {"updated": n_upd, "deleted": n_del, "inserted": n_ins}

    # Name prefixes of the staging/trash dirs ``_commit`` leaves NEXT TO
    # data/ (never inside it — partition discovery stays clean) when a
    # crash interrupts it, plus the names older versions used.
    _VACUUM_PREFIXES = (
        "data_", "data.old.", "_trash_", "_zordering_", "_optimizing_"
    )

    def vacuum(self, name: str) -> list[str]:
        """Recover from crashed mutations (VACUUM analog); returns the
        names of the leftover entries it cleared.

        Roll-back first: a commit whose staging dir is still present
        may have stopped between moving a unit to its trash and moving
        the successor in, so each unit in that trash (and in a
        ``data.old.*`` dir older versions left) whose place under
        ``data/`` is empty holds the only copy of committed rows and is
        moved back. Then every staging/trash leftover is deleted. A
        commit that finished its swap dropped its staging dir first, so
        its trash is garbage. Committed units under ``data/`` are never
        deleted or overwritten, and index metadata is not touched.

        Safe to run any time under the same single-writer-per-table
        contract every mutation already assumes (a vacuum concurrent
        with a live mutation could reap its in-flight staging dir)."""
        root = self.path(name)
        data = join(root, "data")
        depth = len(self._meta(name)["partition_by"])
        entries = self.fs.listdir(root)
        removed = []
        for entry in entries:
            src = join(root, entry)
            legacy = entry.startswith("data.old.")
            if legacy or (
                entry.startswith("_trash_")
                and "data_staging_" + entry[len("_trash_"):] in entries
            ):
                for rel in self._partition_rel_dirs(src, 0 if legacy else depth):
                    dst = self._unit(data, rel)
                    if not self.fs.exists(dst):
                        self.fs.mkdirs(posixpath.dirname(dst))
                        self.fs.rename(self._unit(src, rel), dst)
            elif not entry.startswith(self._VACUUM_PREFIXES) and not (
                entry.startswith("proj_") and entry.endswith(".rebuilding")
            ):
                continue
            self.fs.delete(src)
            removed.append(entry)
        return removed
