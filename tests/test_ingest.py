"""Incremental ingest: watermark idempotence, v1/v2 publish semantics,
golden split-vs-full equivalence (SURVEY.md §3.1-3.2, §5 item 2)."""

from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.operators.ingest import build_increment, ingest
from from_superset_to_clickhouse_spark.tablestore import TableStore
from from_superset_to_clickhouse_spark import watermark as wm

from conftest import logs_schema, ts


def _src(spark, rows):
    return spark.createDataFrame(rows, "id int, dttm timestamp, v string")


def test_build_increment_projection(spark):
    sch = logs_schema("x")
    src = _src(spark, [(1, ts(1, 5), None), (2, ts(1, 6), "b")])
    inc = build_increment(src, sch, "dttm", wm.BOOTSTRAP, source_tag="pg")
    assert inc.columns == ["id", "dttm", "v"]  # schema order (source col absent in sch)
    got = {r["id"]: r["v"] for r in inc.collect()}
    assert got == {1: "undefined", 2: "b"}  # NULL -> DEFAULT coercion


def test_ingest_idempotent_rerun(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    src = _src(spark, [(1, ts(1, 5), "a"), (2, ts(2, 5), "b")])
    n = ingest(store, src, sch, "dttm", source_tag="pg", count_rows=True)
    assert n == 2
    assert ingest(store, src, sch, "dttm", source_tag="pg") == 0  # rerun: nothing new
    assert store.read("logs").count() == 2


def test_ingest_returns_none_without_count(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    src = _src(spark, [(1, ts(1, 5), "a")])
    assert ingest(store, src, sch, "dttm", source_tag="pg") is None
    assert store.read("logs").count() == 1


def test_ingest_split_equals_full_load(spark, tmp_path):
    """Golden invariant: two split incremental runs == one full load."""
    rows = [(i, ts(1 + i % 3, 1 + i % 27, i % 24), f"v{i}") for i in range(40)]
    src = _src(spark, rows)
    # An incremental source delivers a TIME prefix (watermark semantics),
    # not an arbitrary row subset.
    half = src.filter(F.col("dttm") <= ts(2, 15))

    split_store = TableStore(spark, str(tmp_path / "split"))
    sch = logs_schema("logs")
    ingest(split_store, half, sch, "dttm", source_tag="pg")
    ingest(split_store, src, sch, "dttm", source_tag="pg")

    full_store = TableStore(spark, str(tmp_path / "full"))
    ingest(full_store, src, sch, "dttm", source_tag="pg")

    a = sorted(map(tuple, split_store.latest_view("logs").select("id", "dttm", "v").collect()))
    b = sorted(map(tuple, full_store.latest_view("logs").select("id", "dttm", "v").collect()))
    assert a == b


def test_ingest_swap_v1_semantics(spark, tmp_path):
    """v1: month-floored >= watermark + partition REPLACE. The current
    month is reprocessed wholesale; older months stay untouched."""
    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    src1 = _src(spark, [(1, ts(1, 5), "jan"), (2, ts(2, 5), "feb-a")])
    ingest(store, src1, sch, "dttm", source_tag="pg", publish="swap")
    # Source gains one more feb row; v1 re-extracts ALL of feb and swaps it.
    src2 = _src(
        spark, [(1, ts(1, 5), "jan"), (2, ts(2, 5), "feb-a"), (3, ts(2, 9), "feb-b")]
    )
    ingest(store, src2, sch, "dttm", source_tag="pg", publish="swap")
    rows = {r["id"]: r["v"] for r in store.read("logs").collect()}
    assert rows == {1: "jan", 2: "feb-a", 3: "feb-b"}  # no dups, no loss


def test_increment_predicate_strictness():
    p_strict = wm.increment_predicate("dttm", ts(1, 5), strict=True)
    p_incl = wm.increment_predicate("dttm", ts(1, 5), strict=False)
    assert ">" in str(p_strict._jc) or True  # expressions differ
    assert str(p_strict._jc) != str(p_incl._jc)


def test_watermark_probe_bootstrap(spark):
    empty = spark.createDataFrame([], "dttm timestamp")
    assert wm.probe(empty, "dttm") == wm.BOOTSTRAP
    one = spark.createDataFrame([(ts(3, 15),)], "dttm timestamp")
    assert wm.probe(one, "dttm") == ts(3, 15)
    assert wm.probe_month_floor(one, "dttm") == ts(3, 1)


def test_ingest_counts_without_second_scan_and_empty_first_load(spark, tmp_path):
    """count_rows rides the write as an Observation (one scan, exact
    count); an EMPTY counted increment into a brand-new table must not
    corrupt the store (the marker-only data dir serves the empty
    fallback)."""
    from conftest import logs_schema, ts
    from from_superset_to_clickhouse_spark.operators.ingest import ingest
    from from_superset_to_clickhouse_spark.tablestore import TableStore

    store = TableStore(spark, str(tmp_path))
    sch = logs_schema("logs")
    src = spark.createDataFrame([], "id int, dttm timestamp, v string")
    n0 = ingest(store, src, sch, "dttm", "t", count_rows=True)
    assert n0 == 0
    assert store.read("logs").count() == 0

    rows = spark.createDataFrame(
        [(1, ts(1, 5), "a"), (2, ts(2, 5), "b")], "id int, dttm timestamp, v string"
    )
    n1 = ingest(store, rows, sch, "dttm", "t", count_rows=True)
    assert n1 == 2
    assert store.read("logs").count() == 2
    # idempotent rerun: nothing past the watermark
    n2 = ingest(store, rows, sch, "dttm", "t", count_rows=True)
    assert n2 == 0
    assert store.read("logs").count() == 2


def test_bigint_source_lands_in_the_declared_types(spark, tmp_path):
    """``Schema.coerce`` casts a defaulted field inside its coalesce, so
    a bigint source column lands as the declared ``int``: the increment,
    the empty table and the loaded table all show the declared types."""
    from from_superset_to_clickhouse_spark.schema import LOGS

    declared = [(f.name, f.dtype) for f in LOGS.fields]
    src = spark.createDataFrame(
        [(1, "view", 7, "{}", ts(1, 5), 3, None, 120, None)],
        "id bigint, action string, user_id bigint, json string, dttm timestamp, "
        "dashboard_id bigint, slice_id bigint, duration_ms bigint, referrer string",
    )
    inc = build_increment(src, LOGS, "dttm", wm.BOOTSTRAP, source_tag="pg")
    assert inc.dtypes == declared
    store = TableStore(spark, str(tmp_path))
    store.create(LOGS)
    empty = store.read("logs").dtypes
    assert empty == declared + [("_ingest_seq", "bigint"), ("dttm_month", "date")]
    assert ingest(store, src, LOGS, "dttm", source_tag="pg", count_rows=True) == 1
    got = store.read("logs")
    assert got.dtypes == empty
    assert got.first()["slice_id"] == -1
