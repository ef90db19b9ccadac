"""TableStore: lifecycle, dedup store, partition-wise compact, pruned delete.

Covers the ClickHouse-semantics layer (SURVEY.md §2 rows 2-4, 16, 25,
33-37) including the round-2 regressions: NULL partition values through
compact (ADVICE r2 high) and partition-pruned delete_where (VERDICT r2
wrong-item 1).
"""

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.schema import Field, Schema
from from_superset_to_clickhouse_spark.tablestore import TableStore

from conftest import logs_schema, ts


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path))


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "id int, dttm timestamp, v string")


def test_create_append_read_roundtrip(spark, store):
    sch = logs_schema("t1")
    store.create(sch)
    store.append("t1", _mkdf(spark, [(1, ts(1, 5), "a"), (2, ts(2, 5), "b")]))
    got = store.read("t1")
    assert got.count() == 2
    assert sorted(store.partitions("t1")) == [
        "dttm_month=2024-01-01",
        "dttm_month=2024-02-01",
    ]


def test_create_if_not_exists_and_drop(spark, store):
    sch = logs_schema("t2")
    store.create(sch)
    store.create(sch, if_not_exists=True)
    with pytest.raises(ValueError):
        store.create(sch, if_not_exists=False)
    store.drop("t2")
    assert not store.exists("t2")
    store.drop("t2", if_exists=True)


def test_rename(spark, store):
    sch = logs_schema("t3")
    store.create(sch)
    store.append("t3", _mkdf(spark, [(1, ts(1, 5), "a")]))
    store.rename("t3", "t3b")
    assert store.exists("t3b") and not store.exists("t3")
    assert store.read("t3b").count() == 1


def test_latest_view_last_write_wins(spark, store):
    sch = logs_schema("t4")
    store.create(sch)
    store.append("t4", _mkdf(spark, [(1, ts(1, 5), "old"), (2, ts(1, 6), "keep")]))
    store.append("t4", _mkdf(spark, [(1, ts(1, 7), "new")]))
    assert store.read("t4").count() == 3
    latest = {r["id"]: r["v"] for r in store.latest_view("t4").collect()}
    assert latest == {1: "new", 2: "keep"}


def test_compact_partitionwise_touches_only_dup_partitions(spark, store):
    sch = logs_schema("t5")
    store.create(sch)
    store.append(
        "t5", _mkdf(spark, [(1, ts(1, 5), "jan"), (10, ts(2, 5), "feb-old")])
    )
    store.append("t5", _mkdf(spark, [(10, ts(2, 9), "feb-new")]))
    jan_dir = os.path.join(store.path("t5"), "data", "dttm_month=2024-01-01")
    jan_before = sorted(os.listdir(jan_dir)), os.stat(jan_dir).st_mtime_ns
    store.compact("t5")
    assert store.read("t5").count() == 2  # dup collapsed on disk
    latest = {r["id"]: r["v"] for r in store.latest_view("t5").collect()}
    assert latest == {1: "jan", 10: "feb-new"}
    jan_after = sorted(os.listdir(jan_dir)), os.stat(jan_dir).st_mtime_ns
    assert jan_after == jan_before  # clean partition untouched
    leftovers = [e for e in os.listdir(store.path("t5")) if e.startswith(("_trash", "data_"))]
    assert leftovers == []


def test_compact_with_null_partition_values(spark, store):
    """ADVICE r2 high: NULL partition values crashed compact and were
    silently excluded from the rewrite set."""
    sch = Schema(
        name="t6",
        fields=(
            Field("id", "int", nullable=False),
            Field("d", "date"),
            Field("v", "string"),
        ),
        dedup_key=("id",),
        partition_by=("d",),
    )
    store.create(sch)
    d1 = dt.date(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, None, "null-old"), (2, d1, "jan-old")], "id int, d date, v string"
    )
    store.create(sch)
    store.append("t6", df)
    store.append(
        "t6",
        spark.createDataFrame(
            [(1, None, "null-new"), (2, d1, "jan-new")], "id int, d date, v string"
        ),
    )
    store.compact("t6")
    rows = {r["id"]: (r["d"], r["v"]) for r in store.read("t6").collect()}
    assert rows == {1: (None, "null-new"), 2: (d1, "jan-new")}


def test_delete_where_zero_pct(spark, store):
    sch = logs_schema("t7")
    store.create(sch)
    store.append("t7", _mkdf(spark, [(1, ts(1, 5), "a"), (2, ts(2, 5), "b")]))
    assert store.delete_where("t7", F.col("id") > 999) == 0
    assert store.read("t7").count() == 2


def test_delete_where_partition_pruned(spark, store):
    sch = logs_schema("t8")
    store.create(sch)
    store.append(
        "t8",
        _mkdf(
            spark,
            [(1, ts(1, 5), "a"), (2, ts(1, 6), "b"), (3, ts(2, 5), "c"), (4, ts(2, 6), "d")],
        ),
    )
    jan_dir = os.path.join(store.path("t8"), "data", "dttm_month=2024-01-01")
    jan_before = sorted(os.listdir(jan_dir)), os.stat(jan_dir).st_mtime_ns
    n = store.delete_where("t8", F.col("dttm") >= ts(2, 6))
    assert n == 1
    assert {r["id"] for r in store.read("t8").collect()} == {1, 2, 3}
    jan_after = sorted(os.listdir(jan_dir)), os.stat(jan_dir).st_mtime_ns
    assert jan_after == jan_before  # untouched partition not rewritten


def test_delete_where_null_condition_keeps_rows(spark, store):
    """SQL DELETE semantics: NULL predicate rows are KEPT."""
    sch = Schema(
        name="t9",
        fields=(
            Field("id", "int", nullable=False),
            Field("score", "int"),
        ),
        dedup_key=("id",),
    )
    store.create(sch)
    df = spark.createDataFrame([(1, 10), (2, None), (3, 3)], "id int, score int")
    store.append("t9", df)
    n = store.delete_where("t9", F.col("score") < 5)
    assert n == 1  # only id=3; id=2 (NULL predicate) kept
    assert {r["id"] for r in store.read("t9").collect()} == {1, 2}


def test_delete_where_everything(spark, store):
    sch = logs_schema("t10")
    store.create(sch)
    store.append("t10", _mkdf(spark, [(1, ts(1, 5), "a"), (2, ts(2, 5), "b")]))
    assert store.delete_where("t10", F.lit(True)) == 2
    assert store.read("t10").count() == 0  # table still readable
    store.append("t10", _mkdf(spark, [(5, ts(3, 5), "z")]))
    assert store.read("t10").count() == 1


def test_delete_where_whole_partition_disappears(spark, store):
    sch = logs_schema("t11")
    store.create(sch)
    store.append("t11", _mkdf(spark, [(1, ts(1, 5), "a"), (2, ts(2, 5), "b")]))
    n = store.delete_where("t11", F.col("dttm_month") == dt.date(2024, 1, 1))
    assert n == 1
    assert store.partitions("t11") == ["dttm_month=2024-02-01"]


def test_overwrite_partitions_swaps_only_staged(spark, store):
    sch = logs_schema("t12")
    store.create(sch)
    store.append(
        "t12", _mkdf(spark, [(1, ts(1, 5), "jan"), (2, ts(2, 5), "feb-v1"), (3, ts(2, 6), "feb-v1")])
    )
    staged = _mkdf(spark, [(2, ts(2, 7), "feb-v2")])
    store.overwrite_partitions("t12", staged)
    rows = {r["id"]: r["v"] for r in store.read("t12").collect()}
    assert rows == {1: "jan", 2: "feb-v2"}  # id=3 replaced away with its partition


def test_tables_and_describe(spark, tmp_path):
    from tests.conftest import logs_schema

    store = TableStore(spark, str(tmp_path / "cat"))
    assert store.tables() == []
    store.create(logs_schema("a"))
    store.create(logs_schema("b"))
    assert store.tables() == ["a", "b"]
    d = store.describe("a")
    assert d["name"] == "a"
    assert [f["name"] for f in d["fields"]] == ["id", "dttm", "v"]
    assert d["dedup_key"] == ["id"]
    assert d["ingest_seq"] == 0
    assert d["partitions"] == []


def test_zone_maps_prune_partitions_and_match_full_filter(spark, tmp_path):
    """Zone maps: per-partition sort-key bounds collected at write turn
    a range predicate into partition pruning — the scan plans
    PartitionFilters and only intersecting months survive; results
    equal the unpruned filter twin; appends widen bounds correctly."""
    import contextlib
    import io

    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    store.create(sch)
    # ids 0-9 in Jan, 100-109 in Feb, 200-209 in Mar
    rows = [
        (base + i, ts(m, 3 + i), f"v{base + i}")
        for m, base in ((1, 0), (2, 100), (3, 200))
        for i in range(10)
    ]
    store.append("logs", spark.createDataFrame(rows, "id int, dttm timestamp, v string"))

    keep = store.zone_prune_partitions("logs", "id", lo=100, hi=109)
    assert keep == ["2024-02-01"]

    q = store.read_where("logs", "id", lo=100, hi=109)
    got = sorted(r["id"] for r in q.collect())
    assert got == list(range(100, 110))
    full = store.read("logs").filter((F.col("id") >= 100) & (F.col("id") <= 109))
    assert sorted(r["id"] for r in full.collect()) == got
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()

    # append into Jan with HIGHER ids: Jan's zone widens, the old range
    # query must now include Jan (correctness under merge)
    store.append(
        "logs",
        spark.createDataFrame([(105, ts(1, 20), "late")], "id int, dttm timestamp, v string"),
    )
    keep2 = store.zone_prune_partitions("logs", "id", lo=100, hi=109)
    assert keep2 == ["2024-01-01", "2024-02-01"]
    got2 = sorted(r["id"] for r in store.read_where("logs", "id", 100, 109).collect())
    assert got2 == sorted(list(range(100, 110)) + [105])


def test_zone_maps_refuse_to_prune_without_full_coverage(spark, tmp_path):
    """A partition on disk with no zone entry (pre-feature table) must
    disable pruning, not silently drop data."""
    import json

    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    store.create(sch)
    store.append(
        "logs",
        spark.createDataFrame(
            [(1, ts(1, 5), "a"), (200, ts(2, 5), "b")],
            "id int, dttm timestamp, v string",
        ),
    )
    # simulate a legacy table: drop one partition's entry
    meta = store._meta("logs")
    del meta["zone_maps"]["2024-02-01"]
    store._save_meta("logs", meta)
    assert store.zone_prune_partitions("logs", "id", 0, 10) is None
    got = {r["id"] for r in store.read_where("logs", "id", 0, 300).collect()}
    assert got == {1, 200}


def test_zone_maps_key_by_hive_dir_names_boolean_and_null(spark, tmp_path):
    """Zone-map keys must match the on-disk Hive directory encoding, not
    Python str(v): a boolean partition writes ``flag=true`` (str gives
    'True') and a NULL partition writes ``__HIVE_DEFAULT_PARTITION__``
    (str gives 'None'). With str(v) keys the coverage check could never
    pass and pruning would silently disable itself for such tables."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    store = TableStore(spark, str(tmp_path))
    sch = Schema(
        name="flags",
        fields=(
            Field("id", "int", nullable=False),
            Field("flag", "boolean"),
            Field("v", "string"),
        ),
        partition_by=("flag",),
        sort_by=("id",),
    )
    store.create(sch)
    rows = [(i, True, "a") for i in range(10)]
    rows += [(100 + i, False, "b") for i in range(10)]
    rows += [(200 + i, None, "c") for i in range(10)]
    store.append(
        "flags",
        spark.createDataFrame(rows, "id int, flag boolean, v string"),
    )

    # pruning is ACTIVE (coverage holds) and selects only the one
    # intersecting partition per range
    assert store.zone_prune_partitions("flags", "id", 100, 109) == ["false"]
    assert store.zone_prune_partitions("flags", "id", 0, 9) == ["true"]
    assert store.zone_prune_partitions("flags", "id", 200, 209) == [
        "__HIVE_DEFAULT_PARTITION__"
    ]

    # read_where returns exactly the right rows, including from the NULL
    # partition (isin can never match NULL — needs the isNull arm)
    got = sorted(r["id"] for r in store.read_where("flags", "id", 200, 209).collect())
    assert got == list(range(200, 210))
    got = sorted(r["id"] for r in store.read_where("flags", "id", 100, 109).collect())
    assert got == list(range(100, 110))


def test_bloom_index_prunes_and_matches_full_filter(spark, tmp_path):
    """Bloom skip index: per-partition bloom filters on a non-sort column
    turn `col = v` into partition pruning — only partitions whose filter
    may contain v are scanned (PartitionFilters in the plan); results
    equal the unpruned filter twin; appends OR into existing bitmaps."""
    import contextlib
    import io

    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("logs"))
    # v values are disjoint across months: u0-u9 Jan, u100-u109 Feb,
    # u200-u209 Mar — an equality probe should touch exactly one month.
    rows = [
        (base + i, ts(m, 3 + i), f"u{base + i}")
        for m, base in ((1, 0), (2, 100), (3, 200))
        for i in range(10)
    ]
    store.append("logs", spark.createDataFrame(rows, "id int, dttm timestamp, v string"))
    store.add_bloom_index("logs", "v")  # backfills from rows already on disk

    # 4096 bits / 5 hashes / 10 values per partition → false-positive
    # probability ~1e-9; exact single-partition pruning is deterministic
    # for this fixture.
    assert store.bloom_prune_partitions("logs", "v", "u105") == ["2024-02-01"]

    q = store.read_eq("logs", "v", "u105")
    assert [r["id"] for r in q.collect()] == [105]
    full = store.read("logs").filter(F.col("v") == "u105")
    assert [r["id"] for r in full.collect()] == [105]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()

    # append the probed value into Jan: Jan's bitmap ORs the new bits in
    # and the probe must now keep both months
    store.append(
        "logs",
        spark.createDataFrame([(9105, ts(1, 20), "u105")], "id int, dttm timestamp, v string"),
    )
    assert store.bloom_prune_partitions("logs", "v", "u105") == [
        "2024-01-01",
        "2024-02-01",
    ]
    assert sorted(r["id"] for r in store.read_eq("logs", "v", "u105").collect()) == [
        105,
        9105,
    ]


def test_bloom_index_replace_fallback_and_nulls(spark, tmp_path):
    """Partition overwrite swaps the touched partition's bitmap (the old
    value stops matching); a partition on disk with no filter entry
    disables pruning rather than dropping data; NULL probes and
    unindexed columns never prune; all-NULL staged partitions still get
    a (bitmap-empty) entry so coverage holds."""
    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("logs"))
    store.add_bloom_index("logs", "v")  # declared before any data
    rows = [(i, ts(1, 3 + i), f"a{i}") for i in range(5)]
    rows += [(100 + i, ts(2, 3 + i), f"b{i}") for i in range(5)]
    rows += [(200 + i, ts(3, 3 + i), None) for i in range(5)]  # all-NULL month
    store.append("logs", spark.createDataFrame(rows, "id int, dttm timestamp, v string"))

    assert store.bloom_prune_partitions("logs", "v", "b3") == ["2024-02-01"]
    # the all-NULL March partition has an entry (empty bitmap): coverage
    # holds and March never matches a non-NULL probe
    assert "2024-03-01" not in (store.bloom_prune_partitions("logs", "v", "a0") or [])

    # overwrite Feb with new values: the swapped bitmap must forget b*
    staged = spark.createDataFrame(
        [(150 + i, ts(2, 10 + i), f"c{i}") for i in range(5)],
        "id int, dttm timestamp, v string",
    )
    store.overwrite_partitions("logs", staged)
    assert store.bloom_prune_partitions("logs", "v", "b3") == []
    assert store.read_eq("logs", "v", "b3").count() == 0
    assert store.bloom_prune_partitions("logs", "v", "c2") == ["2024-02-01"]
    assert store.read_eq("logs", "v", "c2").count() == 1

    # NULL probe / unindexed column → no pruning decision
    assert store.bloom_prune_partitions("logs", "v", None) is None
    assert store.bloom_prune_partitions("logs", "id", 3) is None

    # legacy partition with no entry → pruning disabled, read still right
    meta = store._meta("logs")
    del meta["bloom_indexes"]["v"]["filters"]["2024-01-01"]
    store._save_meta("logs", meta)
    assert store.bloom_prune_partitions("logs", "v", "a2") is None
    assert store.read_eq("logs", "v", "a2").count() == 1


def test_optimize_coalesces_small_files_without_changing_rows(spark, tmp_path):
    """OPTIMIZE analog: six tiny appends leave >=6 files in a partition;
    optimize rewrites each over-fragmented partition down to the target
    file count, preserves every row (incl. the ingest-seq audit column),
    leaves already-compact partitions untouched, and zone-map pruning
    still works on the rewritten layout."""
    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("logs"))
    for i in range(6):
        store.append(
            "logs",
            spark.createDataFrame(
                [(10 * i + j, ts(1, 5), f"v{i}") for j in range(3)],
                "id int, dttm timestamp, v string",
            ),
        )
    # one compact partition in another month
    store.append(
        "logs",
        spark.createDataFrame([(999, ts(2, 5), "x")], "id int, dttm timestamp, v string"),
    )
    before = sorted(map(tuple, store.read("logs").collect()))
    jan = str(tmp_path / "logs" / "data" / "dttm_month=2024-01-01")
    n_before = len([f for f in os.listdir(jan) if f.endswith(".parquet")])
    assert n_before >= 6

    result = store.optimize("logs")  # default target: everything fits one file
    assert result == {"dttm_month=2024-01-01": (n_before, 1)}
    n_after = len([f for f in os.listdir(jan) if f.endswith(".parquet")])
    assert n_after == 1
    assert sorted(map(tuple, store.read("logs").collect())) == before

    # second run is a no-op (already at target)
    assert store.optimize("logs") == {}
    # zone maps survive the rewrite
    assert store.zone_prune_partitions("logs", "id", 999, 999) == ["2024-02-01"]


def test_optimize_unpartitioned_table(spark, tmp_path):
    """Unpartitioned tables swap the whole data dir."""
    sch = Schema(
        name="flat",
        fields=(Field("id", "int", nullable=False), Field("v", "string")),
        sort_by=("id",),
    )
    store = TableStore(spark, str(tmp_path))
    store.create(sch)
    for i in range(4):
        store.append(
            "flat", spark.createDataFrame([(i, f"v{i}")], "id int, v string")
        )
    before = sorted(map(tuple, store.read("flat").collect()))
    got = store.optimize("flat")
    assert got == {".": (got["."][0], 1)} and got["."][0] >= 4
    assert sorted(map(tuple, store.read("flat").collect())) == before


def test_add_column_lazy_default_backfill(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: metadata-only — rows written before the
    ALTER read back as the declared default (no rewrite), rows appended
    after carry the column physically, NULLs in post-ALTER rows coerce
    to the default, dedup/latest_view still work across mixed file
    schemas, and compact() materializes the default physically."""
    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("logs"))
    store.append(
        "logs",
        spark.createDataFrame(
            [(1, ts(1, 5), "a"), (2, ts(2, 5), "b")], "id int, dttm timestamp, v string"
        ),
    )
    store.add_column("logs", Field("score", "double", default=0.5))
    with pytest.raises(ValueError):
        store.add_column("logs", Field("score", "double"))

    # old rows surface the default without any rewrite
    got = {r["id"]: r["score"] for r in store.read("logs").collect()}
    assert got == {1: 0.5, 2: 0.5}

    # new rows carry real values; explicit NULL coerces to the default
    store.append(
        "logs",
        spark.createDataFrame(
            [(3, ts(1, 6), "c", 0.9), (4, ts(1, 7), "d", None)],
            "id int, dttm timestamp, v string, score double",
        ),
    )
    got = {r["id"]: r["score"] for r in store.read("logs").collect()}
    assert got == {1: 0.5, 2: 0.5, 3: 0.9, 4: 0.5}

    # dedup view across mixed schemas: latest insert per key wins
    store.append(
        "logs",
        spark.createDataFrame(
            [(1, ts(1, 8), "a2", 0.7)], "id int, dttm timestamp, v string, score double"
        ),
    )
    latest = {r["id"]: (r["v"], r["score"]) for r in store.latest_view("logs").collect()}
    assert latest[1] == ("a2", 0.7) and latest[2] == ("b", 0.5)

    # compact rewrites physically; evolved read still correct afterwards
    store.compact("logs")
    got = {r["id"]: r["score"] for r in store.read("logs").collect()}
    assert got == {1: 0.7, 2: 0.5, 3: 0.9, 4: 0.5}


def test_add_column_empty_table_and_no_default(spark, tmp_path):
    """Evolving an empty table shows the column in the empty-schema
    read; a default-less evolved column reads as NULL for old rows."""
    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("logs"))
    store.add_column("logs", Field("tag", "string"))
    assert "tag" in store.read("logs").columns  # empty-table fallback

    store.append(
        "logs",
        spark.createDataFrame([(1, ts(1, 5), "a")], "id int, dttm timestamp, v string"),
    )
    rows = store.read("logs").collect()
    assert [r["tag"] for r in rows] == [None]


def test_read_since_incremental_consumption(spark, tmp_path):
    """read_since(seq) returns exactly the batches committed after seq,
    and the _ingest_seq predicate reaches the parquet scan (PushedFilters)
    so old files prune via row-group stats."""
    import contextlib
    import io

    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("logs"))
    store.append("logs", _mkdf(spark, [(1, ts(1, 5), "a")]))
    s1 = store.current_seq("logs")
    store.append("logs", _mkdf(spark, [(2, ts(1, 6), "b")]))
    store.append("logs", _mkdf(spark, [(3, ts(2, 5), "c")]))

    got = sorted(r["id"] for r in store.read_since("logs", s1).collect())
    assert got == [2, 3]
    assert store.read_since("logs", store.current_seq("logs")).count() == 0

    q = store.read_since("logs", s1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    assert "_ingest_seq" in buf.getvalue() and "PushedFilters" in buf.getvalue()


def test_read_as_of_time_travel(spark, tmp_path):
    """read_as_of(seq) reproduces each historical snapshot exactly;
    as_of(s) ∪ since(s) ≡ read with no overlap; the <= predicate is
    pushed to the scan so newer files prune; optimize (pure layout
    maintenance) preserves snapshots."""
    import contextlib
    import io

    from conftest import logs_schema, ts

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("logs"))
    batches = [[(1, ts(1, 5), "a")], [(2, ts(1, 6), "b")], [(3, ts(2, 5), "c")]]
    seqs = []
    for b in batches:
        store.append("logs", _mkdf(spark, b))
        seqs.append(store.current_seq("logs"))

    for i, s in enumerate(seqs):
        snap = sorted(r["id"] for r in store.read_as_of("logs", s).collect())
        assert snap == [b[0][0] for b in batches[: i + 1]]
    # complement: as_of ∪ since partitions the table
    s1 = seqs[0]
    asof = {r["id"] for r in store.read_as_of("logs", s1).collect()}
    since = {r["id"] for r in store.read_since("logs", s1).collect()}
    assert asof | since == {1, 2, 3} and not (asof & since)
    # pushdown: the seq predicate must reach the parquet scan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        store.read_as_of("logs", s1).explain("formatted")
    assert "_ingest_seq" in buf.getvalue() and "PushedFilters" in buf.getvalue()
    # layout maintenance must not rewrite history
    store.optimize("logs")
    assert sorted(
        r["id"] for r in store.read_as_of("logs", seqs[1]).collect()
    ) == [1, 2]


def test_ngram_bloom_index_substring_pruning(spark, tmp_path):
    """Trigram bloom skip index: a substring probe prunes partitions
    lacking any needle trigram yet read_like stays exactly equal to the
    plain contains filter; appends widen bitmaps by OR; a needle
    shorter than n disables pruning but not correctness; NULL values
    are skipped in the build."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "t",
            (
                Field("id", "bigint", nullable=False),
                Field("p", "bigint", nullable=False),
                Field("s", "string"),
            ),
            partition_by=("p",),
        )
    )
    rows = [
        (i, i % 4, None if i == 17 else
         f"pre-{'needle' if i % 4 == 2 else 'hay'}-{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id bigint, p bigint, s string")
    store.append("t", df)
    store.add_ngram_bloom_index("t", "s", n=3)

    keep = store.ngram_prune_partitions("t", "s", "needle")
    assert keep == ["2"]
    got = sorted(r["id"] for r in store.read_like("t", "s", "needle").collect())
    want = sorted(r[0] for r in rows if r[2] and "needle" in r[2])
    assert got == want
    # short needle: pruning declines, result still exact
    assert store.ngram_prune_partitions("t", "s", "ne") is None
    assert store.read_like("t", "s", "ne").count() == len(want)
    # append into another partition widens coverage
    store.append(
        "t",
        spark.createDataFrame([(100, 0, "xx-needle-yy")],
                              "id bigint, p bigint, s string"),
    )
    assert store.ngram_prune_partitions("t", "s", "needle") == ["0", "2"]
    assert store.read_like("t", "s", "needle").count() == len(want) + 1
    # partition overwrite swaps that partition's bitmap back out
    store.overwrite_partitions(
        "t",
        spark.createDataFrame([(100, 0, "plain-hay")],
                              "id bigint, p bigint, s string"),
    )
    assert store.ngram_prune_partitions("t", "s", "needle") == ["2"]


def test_projection_incremental_partials_and_stale_rebuild(spark, tmp_path):
    """ClickHouse-PROJECTION analog: each append adds exactly one
    partial batch (history never rescanned); read_projection merges
    partials to the exact GROUP BY answer; deletes mark it stale and
    the next read rebuilds once, after which incrementality resumes;
    dedup-keyed tables refuse projections."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "t",
            (
                Field("id", "bigint", nullable=False),
                Field("k", "string"),
                Field("v", "double"),
            ),
        )
    )
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, k string, v double")  # noqa: E731
    store.append("t", mk([(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]))
    store.add_projection("t", "by_k", ["k"], ["v"])
    store.append("t", mk([(4, "a", 10.0), (5, "c", 5.0)]))

    got = {
        r["k"]: (r["v"], r["_rows"])
        for r in store.read_projection("t", "by_k").collect()
    }
    assert got == {"a": (14.0, 3), "b": (2.0, 1), "c": (5.0, 1)}
    # the projection dir holds ONE partial batch per append, not a scan
    import glob
    import os

    n_files_before = len(
        glob.glob(os.path.join(store.path("t"), "proj_by_k", "*.parquet"))
    )
    store.append("t", mk([(6, "b", 1.5)]))
    n_files_after = len(
        glob.glob(os.path.join(store.path("t"), "proj_by_k", "*.parquet"))
    )
    assert n_files_after > n_files_before  # appended, not rewritten

    store.delete_where("t", F.col("k") == F.lit("a"))
    got2 = {
        r["k"]: (r["v"], r["_rows"])
        for r in store.read_projection("t", "by_k").collect()
    }
    assert got2 == {"b": (3.5, 2), "c": (5.0, 1)}
    # incrementality resumes post-rebuild
    store.append("t", mk([(9, "b", 7.0)]))
    got3 = {
        r["k"]: (r["v"], r["_rows"])
        for r in store.read_projection("t", "by_k").collect()
    }
    assert got3 == {"b": (10.5, 3), "c": (5.0, 1)}

    store.create(
        Schema(
            "d",
            (Field("id", "bigint", nullable=False), Field("v", "double")),
            dedup_key=("id",),
        )
    )
    with pytest.raises(ValueError, match="append-only"):
        store.add_projection("d", "p", ["id"], ["v"])


def test_update_where_mutation_pruned_and_index_safe(spark, tmp_path):
    """ALTER TABLE UPDATE analog: only affected partitions rewrite
    (untouched dirs byte-identical), assignment RHS sees the original
    row, NULL-predicate rows stay untouched, partition columns refuse
    assignment — and zone maps are RECOMPUTED, so a value pushed
    outside the old recorded range is still found by read_where."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "t",
            (
                Field("id", "bigint", nullable=False),
                Field("p", "bigint", nullable=False),
                Field("v", "double"),
            ),
            partition_by=("p",),
            sort_by=("id",),
        )
    )
    rows = [(i, i % 3, None if i == 7 else float(i)) for i in range(30)]
    store.append("t", spark.createDataFrame(rows, "id bigint, p bigint, v double"))

    p2dir = os.path.join(store.path("t"), "data", "p=2")
    before = sorted(os.listdir(p2dir)), os.stat(p2dir).st_mtime_ns
    # swap semantics: v := v + id must read the ORIGINAL v. Predicate
    # hits only ids 0 (p=0) and 1 (p=1) — p=2 must not rewrite.
    n = store.update_where(
        "t", F.col("v") < 2, {"v": F.col("v") + F.col("id")}
    )
    assert n == 2
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert got[1] == 2.0 and got[3] == 3.0 and got[10] == 10.0
    assert got[7] is None  # NULL predicate -> untouched
    assert (sorted(os.listdir(p2dir)), os.stat(p2dir).st_mtime_ns) == before

    with pytest.raises(ValueError, match="partition"):
        store.update_where("t", F.lit(True), {"p": F.lit(9)})

    # zone-map recompute: push a sort-key value far outside its old
    # recorded range, then range-read it back through the pruned path
    store2 = TableStore(spark, str(tmp_path / "z"))
    store2.create(
        Schema(
            "z",
            (
                Field("id", "bigint", nullable=False),
                Field("p", "bigint", nullable=False),
            ),
            partition_by=("p",),
            sort_by=("id",),
        )
    )
    store2.append(
        "z",
        spark.createDataFrame(
            [(i, i % 2) for i in range(10)], "id bigint, p bigint"
        ),
    )
    assert store2.update_where("z", F.col("id") == 4, {"id": F.lit(1000)}) == 1
    assert [r["id"] for r in store2.read_where("z", "id", 900, 1100).collect()] == [1000]


def test_optimize_zorder_multidim_file_skipping(spark, tmp_path):
    """Z-order rewrite: rows preserved bit-for-bit, and a pushed
    two-column box predicate touches FEWER files afterwards — the
    multi-dimensional skipping a single sort key cannot provide."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "t",
            (
                Field("id", "bigint", nullable=False),
                Field("x", "bigint"),
                Field("y", "bigint"),
            ),
        )
    )
    df = spark.range(40000).selectExpr(
        "id",
        "CAST(id % 200 AS BIGINT) AS x",
        "CAST((id * 7919) % 200 AS BIGINT) AS y",
    ).repartition(16)
    store.append("t", df)

    pred = F.col("x").between(10, 30) & F.col("y").between(10, 30)

    def files_touched():
        return (
            store.read("t")
            .filter(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    total = store.read("t").count()
    rows_before, files_before = store.read("t").filter(pred).count(), files_touched()
    store.optimize_zorder("t", ["x", "y"], files=16)
    assert store.read("t").count() == total
    assert store.read("t").filter(pred).count() == rows_before
    assert files_touched() < files_before
    with pytest.raises(ValueError):
        store.optimize_zorder("t", ["x"])  # exactly two columns
    with pytest.raises(ValueError):
        store.optimize_zorder("t", ["x", "nope"])


def test_analyze_stats_and_staleness(spark, tmp_path):
    """ANALYZE persists row count + per-column nulls/NDV from one scan;
    describe surfaces them with a stale flag that flips after the next
    write and clears on re-analyze."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "t",
            (
                Field("id", "bigint", nullable=False),
                Field("k", "string"),
            ),
        )
    )
    store.append(
        "t",
        spark.createDataFrame(
            [(i, None if i % 5 == 0 else f"k{i % 3}") for i in range(50)],
            "id bigint, k string",
        ),
    )
    stats = store.analyze("t")
    assert stats["rows"] == 50
    assert stats["columns"]["k"]["nulls"] == 10
    assert stats["columns"]["id"]["ndv"] >= 45  # approx, near-exact here
    assert store.describe("t")["stats"]["stale"] is False
    store.append(
        "t", spark.createDataFrame([(100, "x")], "id bigint, k string")
    )
    assert store.describe("t")["stats"]["stale"] is True
    store.analyze("t")
    d = store.describe("t")["stats"]
    assert d["stale"] is False and d["rows"] == 51


def test_update_where_hive_escaped_partition_value(spark, tmp_path):
    """ADVICE r6 high: partition values Hive-escapes in dir names
    (':' -> '%3A') must be UNescaped when the skip-index recompute
    rebuilds the touched-partition filter — otherwise the isin list
    holds 'a%3Ab' while CAST(col AS STRING) is 'a:b', the recompute
    filter matches nothing, and zone maps keep pre-update bounds
    (silent wrong read_where results in replace mode)."""
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "e",
            (
                Field("id", "bigint", nullable=False),
                Field("p", "string", nullable=False),
            ),
            partition_by=("p",),
            sort_by=("id",),
        )
    )
    store.append(
        "e",
        spark.createDataFrame(
            [(i, "a:b" if i % 2 else "plain=x") for i in range(10)],
            "id bigint, p string",
        ),
    )
    # id 4 lives in the 'plain=x' partition; id 5 in 'a:b' — update one
    # row in EACH escapable partition far outside the recorded range.
    assert store.update_where("e", F.col("id") == 5, {"id": F.lit(1000)}) == 1
    assert store.update_where("e", F.col("id") == 4, {"id": F.lit(2000)}) == 1
    got = sorted(
        r["id"] for r in store.read_where("e", "id", 900, 2100).collect()
    )
    assert got == [1000, 2000]
    # and the untouched low range still reads exactly right
    low = sorted(r["id"] for r in store.read_where("e", "id", 0, 9).collect())
    assert low == [0, 1, 2, 3, 6, 7, 8, 9]


def test_projection_rebuilds_after_lost_partial(spark, tmp_path, monkeypatch):
    """ADVICE r6 medium: projection partials are correctness-bearing.
    Simulate a crash between the data-parquet commit and the partial
    write (append lands, partial doesn't): read_projection must detect
    the as-of-seq lag and rebuild instead of serving under-counted sums
    forever."""
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "f",
            (
                Field("k", "string", nullable=False),
                Field("v", "bigint", nullable=False),
            ),
        )
    )
    df = lambda rows: spark.createDataFrame(rows, "k string, v bigint")
    store.append("f", df([("a", 1), ("b", 2)]))
    store.add_projection("f", "by_k", ["k"], ["v"])
    # crash window: data commits, projection partial never lands
    monkeypatch.setattr(store, "_update_projections", lambda *a, **k: None)
    store.append("f", df([("a", 10), ("c", 5)]))
    monkeypatch.undo()
    got = {
        r["k"]: (r["v"], r["_rows"])
        for r in store.read_projection("f", "by_k").collect()
    }
    assert got == {"a": (11, 2), "b": (2, 1), "c": (5, 1)}
    # incrementality resumes after the rebuild: next append writes a
    # partial and read_projection stays exact without another rebuild
    store.append("f", df([("b", 100)]))
    got = {
        r["k"]: r["v"] for r in store.read_projection("f", "by_k").collect()
    }
    assert got == {"a": 11, "b": 102, "c": 5}


def test_merge_into_upsert_prunes_and_maintains_indexes(spark, tmp_path):
    """MERGE INTO: matched rows update from the source, unmatched source
    rows insert, untouched partitions stay byte-identical, zone maps
    recompute so a merged-in value far outside the old range is still
    found by read_where."""
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "m",
            (
                Field("id", "bigint", nullable=False),
                Field("p", "bigint", nullable=False),
                Field("v", "double"),
            ),
            partition_by=("p",),
            sort_by=("id",),
        )
    )
    store.append(
        "m",
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(9)], "id bigint, p bigint, v double"
        ),
    )
    p2dir = os.path.join(store.path("m"), "data", "p=2")
    before = sorted(os.listdir(p2dir)), os.stat(p2dir).st_mtime_ns

    # source touches p=0 (update id 0 and 3) and inserts id 100 (p=1)
    src = spark.createDataFrame(
        [(0, 0, 1000.0), (3, 0, 3000.0), (100, 1, 42.0)],
        "id bigint, p bigint, v double",
    )
    res = store.merge_into("m", src, on=["id"])
    assert res == {"updated": 2, "deleted": 0, "inserted": 1}
    got = {r["id"]: r["v"] for r in store.read("m").collect()}
    assert got[0] == 1000.0 and got[3] == 3000.0 and got[100] == 42.0
    assert got[1] == 1.0 and len(got) == 10
    assert (sorted(os.listdir(p2dir)), os.stat(p2dir).st_mtime_ns) == before
    # zone maps recomputed + insert indexed: range reads stay exact
    assert sorted(
        r["id"] for r in store.read_where("m", "id", 90, 4000).collect()
    ) == [100]  # ids 0/3 carry VALUES 1000/3000, not ids — id range only
    assert {r["id"] for r in store.read_where("m", "id", 0, 8).collect()} == set(
        range(9)
    )

    # delete_matched removes matched keys and does NOT resurrect them
    res = store.merge_into(
        "m",
        spark.createDataFrame([(0, 0, 0.0)], "id bigint, p bigint, v double"),
        on=["id"],
        delete_matched=True,
    )
    assert res == {"updated": 0, "deleted": 1, "inserted": 0}
    assert 0 not in {r["id"] for r in store.read("m").collect()}

    # contracts
    with pytest.raises(ValueError, match="duplicate"):
        store.merge_into(
            "m",
            spark.createDataFrame(
                [(1, 0, 1.0), (1, 0, 2.0)], "id bigint, p bigint, v double"
            ),
            on=["id"],
        )
    with pytest.raises(ValueError, match="partition"):
        store.merge_into(
            "m",
            spark.createDataFrame([(1, 9, 1.0)], "id bigint, p bigint, v double"),
            on=["id"],
            update_cols=["p"],
        )
    with pytest.raises(ValueError, match="missing"):
        store.merge_into(
            "m",
            spark.createDataFrame([(1, 5.0)], "id bigint, v double"),
            on=["id"],
        )


def test_merge_into_unpartitioned_and_insert_false(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "u",
            (
                Field("k", "string", nullable=False),
                Field("v", "bigint"),
            ),
        )
    )
    df = lambda rows: spark.createDataFrame(rows, "k string, v bigint")
    store.append("u", df([("a", 1), ("b", 2)]))
    res = store.merge_into("u", df([("a", 10), ("c", 3)]), on=["k"])
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    assert {r["k"]: r["v"] for r in store.read("u").collect()} == {
        "a": 10, "b": 2, "c": 3,
    }
    res = store.merge_into("u", df([("b", 20), ("d", 4)]), on=["k"], insert=False)
    assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    assert {r["k"]: r["v"] for r in store.read("u").collect()} == {
        "a": 10, "b": 20, "c": 3,
    }
    # dedup-keyed tables refuse MERGE
    store.create(logs_schema("d"))
    with pytest.raises(ValueError, match="upsert"):
        store.merge_into("d", df([("a", 1)]), on=["id"])


def test_merge_into_broadcast_hint_counts_real_string_bytes(
    spark, tmp_path, monkeypatch
):
    """merge_into hints a broadcast of its statistics-less source only
    when the estimate clears spark.sql.autoBroadcastJoinThreshold, and
    the estimate counts the source's real string bytes. 40 rows of 4 KB
    text (160 KB) stay shuffle-joined under a 64 KB threshold, although
    Catalyst's static width (20 bytes per string) would put them at
    ~1 KB; the key-only probe and a small source are still hinted."""
    import from_superset_to_clickhouse_spark.tablestore as tablestore

    hinted = []
    real_broadcast = tablestore.F.broadcast

    def spy(d):
        hinted.append(tuple(d.columns))
        return real_broadcast(d)

    monkeypatch.setattr(tablestore.F, "broadcast", spy)
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "m",
            (Field("k", "bigint", nullable=False), Field("body", "string")),
        )
    )
    df = lambda rows: spark.createDataFrame(rows, "k bigint, body string")
    store.append("m", df([(i, "x") for i in range(50)]))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024))
    try:
        res = store.merge_into("m", df([(i, "y" * 4096) for i in range(40)]), on=["k"])
        assert res == {"updated": 40, "deleted": 0, "inserted": 0}
        assert hinted == [("k",)]
        hinted.clear()
        # a dashboards-sized batch: 25 short rows, 5 of them new
        res = store.merge_into("m", df([(i, "z") for i in range(30, 55)]), on=["k"])
        assert res == {"updated": 20, "deleted": 0, "inserted": 5}
        assert hinted == [("k",), ("k", "_m", "_src_body")]
    finally:
        spark.conf.set(key, old)
    got = {r["k"]: r["body"] for r in store.read("m").collect()}
    assert len(got) == 55
    assert got[0] == "y" * 4096 and got[30] == "z" and got[54] == "z"


def test_vacuum_reclaims_crashed_staging_only(spark, tmp_path):
    """vacuum() removes stranded staging/trash dirs from crashed
    mutations and touches nothing committed: data survives byte-equal,
    meta and projections intact."""
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema("v", (Field("id", "bigint", nullable=False), Field("x", "bigint")))
    )
    store.append(
        "v", spark.createDataFrame([(1, 10), (2, 20)], "id bigint, x bigint")
    )
    root = store.path("v")
    for d in (
        "data_updating", "data_merging", "_trash_123", "data.old.456",
        "proj_p.rebuilding",
    ):
        os.makedirs(os.path.join(root, d))
        open(os.path.join(root, d, "junk"), "w").write("x")
    removed = store.vacuum("v")
    assert sorted(removed) == [
        "_trash_123", "data.old.456", "data_merging", "data_updating",
        "proj_p.rebuilding",
    ]
    assert store.vacuum("v") == []  # idempotent
    assert {r["id"]: r["x"] for r in store.read("v").collect()} == {1: 10, 2: 20}


def test_merge_into_keeps_projection_exact(spark, tmp_path):
    """MERGE + incremental projections: updates mark the projection
    stale (partial sums can't absorb a rewrite), the next read rebuilds
    once, and the merged-in INSERTS are covered — read_projection must
    equal the plain GROUP BY over the post-merge table."""
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "pm",
            (
                Field("id", "bigint", nullable=False),
                Field("k", "string", nullable=False),
                Field("v", "bigint", nullable=False),
            ),
        )
    )
    df = lambda rows: spark.createDataFrame(rows, "id bigint, k string, v bigint")
    store.append("pm", df([(1, "a", 10), (2, "a", 20), (3, "b", 5)]))
    store.add_projection("pm", "by_k", ["k"], ["v"])
    res = store.merge_into(
        "pm", df([(2, "a", 200), (9, "b", 7)]), on=["id"]
    )
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    got = {
        r["k"]: (r["v"], r["_rows"])
        for r in store.read_projection("pm", "by_k").collect()
    }
    assert got == {"a": (210, 2), "b": (12, 2)}
    # incrementality resumes: append writes one partial, stays exact
    store.append("pm", df([(10, "a", 1)]))
    got = {r["k"]: r["v"] for r in store.read_projection("pm", "by_k").collect()}
    assert got == {"a": 211, "b": 12}


def test_check_constraints_gate_the_write_path(spark, tmp_path):
    """ClickHouse CONSTRAINT … CHECK semantics: a violating batch is
    rejected WHOLE with per-constraint counts, before the ingest
    sequence advances or any byte lands; NULL evaluations pass
    (SQL-standard unknown); clean batches flow; mutations of existing
    rows are not re-checked (CH checks INSERT only); constraints
    persist in table meta and drop cleanly."""
    import pytest as _pytest

    from conftest import logs_schema

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("t"))
    store.add_check("t", "id_positive", "id >= 0")
    store.add_check("t", "v_prefix", "v LIKE 'v%'")
    with _pytest.raises(ValueError, match="already exists"):
        store.add_check("t", "id_positive", "id >= 0")
    with _pytest.raises(Exception):
        store.add_check("t", "broken", "id >=")  # unparseable, fail fast

    ok = spark.createDataFrame(
        [(1, ts(1, 1), "v1"), (2, ts(2, 1), None)],
        "id int, dttm timestamp, v string",
    )
    store.append("t", ok)  # NULL v: 'v LIKE ...' is unknown -> passes
    assert store.read("t").count() == 2

    bad = spark.createDataFrame(
        [(-1, ts(3, 1), "v3"), (3, ts(3, 1), "x3")],
        "id int, dttm timestamp, v string",
    )
    seq_before = store.current_seq("t")
    with _pytest.raises(ValueError, match=r"id_positive \(1 rows") as ei:
        store.append("t", bad)
    assert "v_prefix (1 rows" in str(ei.value)
    assert store.read("t").count() == 2  # nothing landed
    assert store.current_seq("t") == seq_before  # seq untouched

    # mutations are NOT re-checked (ClickHouse INSERT-only contract)
    store.update_where("t", F.col("id") == 1, {"v": F.lit("zzz")})
    assert {r["v"] for r in store.read("t").collect()} >= {"zzz"}

    store.drop_check("t", "v_prefix")
    with _pytest.raises(ValueError, match="no check"):
        store.drop_check("t", "v_prefix")
    store.append(
        "t",
        spark.createDataFrame(
            [(9, ts(4, 1), "anything")],
            "id int, dttm timestamp, v string",
        ),
    )
    assert store.read("t").count() == 3


def test_ttl_and_sample_read(spark, tmp_path):
    """Declarative TTL: set_ttl records the ClickHouse-style expiry
    expression, apply_ttl deletes exactly the expired rows through the
    partition-pruned DELETE path and returns the count (0 when no TTL
    declared); unresolvable expressions fail at declaration time.
    read_sample returns the same deterministic hash-keyed subset as
    sampling.sample_pct — stable across calls."""
    import pytest as _pytest

    from conftest import logs_schema

    store = TableStore(spark, str(tmp_path))
    store.create(logs_schema("t"))
    rows = [(i, ts(1 + i % 12, 1), f"v{i}") for i in range(40)]
    store.append(
        "t", spark.createDataFrame(rows, "id int, dttm timestamp, v string")
    )

    assert store.apply_ttl("t") == 0  # no TTL declared yet
    with _pytest.raises(Exception):
        store.set_ttl("t", "no_such_col + INTERVAL 1 DAY")
    # rows from 2024 + 18 months expire mid-2025 < now() -> months 1-12
    # of 2024 all expire; keep nothing older than 18 months back from
    # "now" (2026) — i.e. every 2024 row expires.
    store.set_ttl("t", "dttm + INTERVAL 18 MONTH")
    n = store.apply_ttl("t")
    assert n == 40 and store.read("t").count() == 0

    # future-dated rows survive
    far = [(100, ts(12, 31), "keep")]
    store.set_ttl("t", "dttm + INTERVAL 1200 MONTH")
    store.append(
        "t", spark.createDataFrame(far, "id int, dttm timestamp, v string")
    )
    assert store.apply_ttl("t") == 0 and store.read("t").count() == 1

    from from_superset_to_clickhouse_spark.operators.sampling import sample_pct

    store.append(
        "t",
        spark.createDataFrame(
            [(i, ts(6, 15), f"s{i}") for i in range(200, 300)],
            "id int, dttm timestamp, v string",
        ),
    )
    got = sorted(r["id"] for r in store.read_sample("t", 3000, "id").collect())
    twin = sorted(
        r["id"] for r in sample_pct(store.read("t"), "id", 3000).collect()
    )
    assert got == twin and 0 < len(got) < 101
    again = sorted(r["id"] for r in store.read_sample("t", 3000, "id").collect())
    assert again == got


def test_summing_store_accumulates_and_folds(spark, tmp_path):
    """SummingMergeTree semantics: appends are cheap partial rows;
    summing_view folds sum_cols per (key x partition) — never across
    partitions, exactly ClickHouse's per-partition merge scope; payload
    columns take the latest batch's value; compact materializes the
    fold on disk and post-compact appends keep accumulating."""
    import pytest as _pytest

    sch = Schema(
        name="counters",
        fields=(
            Field("metric", "string", nullable=False),
            Field("dttm", "timestamp"),
            Field("hits", "long"),
            Field("amount", "double"),
            Field("note", "string"),
        ),
        dedup_key=("metric",),
        partition_by=("dttm_month",),
        sum_cols=("hits", "amount"),
    )
    store = TableStore(spark, str(tmp_path))
    store.create(sch)
    mk = lambda rows: spark.createDataFrame(
        rows, "metric string, dttm timestamp, hits long, amount double, note string"
    )
    store.append("counters", mk([
        ("a", ts(1, 5), 10, 1.5, "first"),
        ("a", ts(1, 9), 5, 0.5, "first"),
        ("b", ts(1, 5), 1, 1.0, "only"),
    ]))
    store.append("counters", mk([
        ("a", ts(1, 20), 100, 10.0, "second"),
        ("a", ts(2, 1), 7, 0.25, "feb"),   # other partition: stays separate
    ]))

    def snap():
        return {
            (r["metric"], str(r["dttm_month"])): (r["hits"], r["amount"], r["note"])
            for r in store.summing_view("counters").collect()
        }

    expect = {
        ("a", "2024-01-01"): (115, 12.0, "second"),
        ("a", "2024-02-01"): (7, 0.25, "feb"),
        ("b", "2024-01-01"): (1, 1.0, "only"),
    }
    assert snap() == expect

    store.compact("counters")
    assert store.read("counters").count() == 3  # folded on disk
    assert snap() == expect  # view unchanged by compaction

    store.append("counters", mk([("a", ts(1, 25), 1000, 0.0, "third")]))
    expect[("a", "2024-01-01")] = (1115, 12.0, "third")
    assert snap() == expect

    with _pytest.raises(ValueError, match="no sum_cols"):
        store.create(logs_schema("plain"))
        store.summing_view("plain")
    with _pytest.raises(ValueError, match="use summing_view"):
        store.latest_view("counters")


def test_fused_index_maintenance_all_structures_one_table(spark, tmp_path):
    """r16: zone map + bloom + ngram bloom maintained on ONE table drive
    the fused single-scan `_update_indexes` path (tagged position
    routing). Every write mode must keep all three structures correct
    together: append widens zone bounds and ORs bitmaps, partition
    overwrite swaps exactly the touched partition's entries for every
    structure, all-NULL partitions still land (empty) entries so
    coverage holds, and each prune result stays exactly equal to the
    full filter."""
    from from_superset_to_clickhouse_spark.schema import Field, Schema

    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "t",
            (
                Field("id", "bigint", nullable=False),
                Field("p", "bigint", nullable=False),
                Field("s", "string"),
            ),
            partition_by=("p",),
            sort_by=("id",),
        )
    )
    store.add_bloom_index("t", "s")
    store.add_ngram_bloom_index("t", "s", n=3)
    rows = [(1, 0, "alpha-needle"), (2, 0, "alpha-hay"),
            (10, 1, "beta-hay"), (11, 1, None),
            (20, 2, None), (21, 2, None)]  # partition 2 all-NULL
    store.append("t", spark.createDataFrame(rows, "id bigint, p bigint, s string"))

    meta = store._meta("t")
    # one fused pass landed an entry for EVERY touched partition in
    # EVERY structure (all-NULL partition 2 gets empty bitmaps)
    for key in ("0", "1", "2"):
        assert key in meta["zone_maps"]
        assert key in meta["bloom_indexes"]["s"]["filters"]
        assert key in meta["ngram_bloom_indexes"]["s"]["filters"]
    assert meta["zone_maps"]["0"] == [1, 2]
    assert meta["zone_maps"]["2"] == [20, 21]
    assert store.bloom_prune_partitions("t", "s", "beta-hay") == ["1"]
    assert store.ngram_prune_partitions("t", "s", "needle") == ["0"]

    # append into partition 1: zone widens, bitmaps OR (old AND new hit)
    store.append("t", spark.createDataFrame(
        [(5, 1, "gamma-needle")], "id bigint, p bigint, s string"))
    meta = store._meta("t")
    assert meta["zone_maps"]["1"] == [5, 11]
    assert store.bloom_prune_partitions("t", "s", "beta-hay") == ["1"]
    assert sorted(store.ngram_prune_partitions("t", "s", "needle")) == ["0", "1"]

    # overwrite partition 0: every structure's entry is REPLACED
    store.overwrite_partitions("t", spark.createDataFrame(
        [(100, 0, "delta-hay")], "id bigint, p bigint, s string"))
    meta = store._meta("t")
    assert meta["zone_maps"]["0"] == [100, 100]
    assert store.bloom_prune_partitions("t", "s", "alpha-needle") == []
    assert store.bloom_prune_partitions("t", "s", "delta-hay") == ["0"]
    assert store.ngram_prune_partitions("t", "s", "alpha") == []
    # prune results stay exactly equal to the full filter
    assert [r["id"] for r in store.read_like("t", "s", "needle").collect()] == [5]
    assert store.read_eq("t", "s", "delta-hay").count() == 1


def test_mutations_see_evolved_columns(spark, tmp_path):
    """UPDATE, MERGE and DELETE read the affected partitions with the
    table's evolved schema: a column added by add_column can be
    assigned, merged and filtered on rows written before it existed
    (they carry the declared default until rewritten)."""
    store = TableStore(spark, str(tmp_path))
    store.create(
        Schema(
            "e",
            (
                Field("id", "int", nullable=False),
                Field("dttm", "timestamp", nullable=False),
            ),
            partition_by=("dttm_month",),
        )
    )
    store.append(
        "e",
        spark.createDataFrame(
            [(1, ts(1, 5)), (2, ts(2, 5)), (3, ts(2, 6))], "id int, dttm timestamp"
        ),
    )
    store.add_column("e", Field("score", "int", default=7))
    assert store.update_where("e", F.col("id") == 1, {"score": F.lit(99)}) == 1
    res = store.merge_into(
        "e",
        spark.createDataFrame([(2, 5)], "id int, score int"),
        on=["id"],
        update_cols=["score"],
        insert=False,
    )
    assert res == {"updated": 1, "deleted": 0, "inserted": 0}
    assert store.delete_where("e", F.col("score") == 7) == 1
    assert {r["id"]: r["score"] for r in store.read("e").collect()} == {1: 99, 2: 5}


_CRASH_ROWS = "id int, dttm timestamp, v string"

_CRASH_OPS = {
    "delete_where": lambda s, n: s.delete_where(n, F.col("id").isin(1, 2, 3)),
    "update_where": lambda s, n: s.update_where(
        n, F.col("id").isin(1, 3), {"v": F.lit("u")}
    ),
    "merge_into": lambda s, n: s.merge_into(
        n,
        s.spark.createDataFrame(
            [(1, ts(1, 5), "m"), (3, ts(2, 5), "m"), (5, ts(1, 9), "new")],
            _CRASH_ROWS,
        ),
        on=["id"],
    ),
    "compact": lambda s, n: s.compact(n),
    "optimize": lambda s, n: s.optimize(n),
}


@pytest.mark.parametrize("partitioned", [True, False], ids=["partitioned", "flat"])
@pytest.mark.parametrize("op", sorted(_CRASH_OPS))
def test_vacuum_rolls_back_crashed_commit(spark, tmp_path, op, partitioned):
    """Fault injection: every rename of a mutation's commit fails in
    turn. vacuum then restores the table so each unit (partition, or
    the whole unpartitioned table) reads exactly as before or exactly
    as after the mutation — no committed row is lost — a second vacuum
    finds nothing, and re-running the mutation completes it."""
    store = TableStore(spark, str(tmp_path))
    part = "dttm_month" if partitioned else None
    store.create(
        Schema(
            "base",
            (
                Field("id", "int", nullable=False),
                Field("dttm", "timestamp", nullable=False),
                Field("v", "string"),
            ),
            dedup_key=("id",) if op == "compact" else (),
            partition_by=(part,) if part else (),
        )
    )
    # Two batches: two files per unit (optimize rewrites them) and a
    # second version of ids 1 and 3 (compact collapses them).
    for rows in (
        [(1, ts(1, 5), "a"), (2, ts(1, 6), "a"), (3, ts(2, 5), "a"), (4, ts(2, 6), "a")],
        [(1, ts(1, 5), "b"), (3, ts(2, 5), "b")],
    ):
        store.append("base", spark.createDataFrame(rows, _CRASH_ROWS))

    def units(name):
        out: dict = {}
        for r in store.read(name).collect():
            out.setdefault(r[part] if part else ".", []).append((r["id"], r["v"]))
        return {k: sorted(v) for k, v in out.items()}

    def copy(name):
        shutil.copytree(store.path("base"), store.path(name))
        return name

    real_rename = store.fs.rename
    calls = []

    def rename(src, dst, fail_at=None):
        calls.append(dst)
        if len(calls) == fail_at:
            raise IOError(f"injected rename failure: {src} -> {dst}")
        real_rename(src, dst)

    before = units("base")
    clean = copy("clean")
    store.fs.rename = rename
    try:
        _CRASH_OPS[op](store, clean)
    finally:
        del store.fs.rename
    after = units(clean)
    assert after != before or op == "optimize"
    n_renames = len(calls)
    assert n_renames >= 2

    for k in range(1, n_renames + 1):
        name = copy(f"crash{k}")
        calls.clear()
        store.fs.rename = lambda src, dst: rename(src, dst, fail_at=k)
        try:
            with pytest.raises(IOError, match="injected"):
                _CRASH_OPS[op](store, name)
        finally:
            del store.fs.rename
        assert store.vacuum(name)
        assert store.vacuum(name) == []
        got = units(name)
        for u in set(before) | set(after):
            assert got.get(u) in (before.get(u), after.get(u)), (k, u, got)
        _CRASH_OPS[op](store, name)
        assert units(name) == after, k
