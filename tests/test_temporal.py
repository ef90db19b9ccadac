"""As-of join, range join, token chunking, sketch-tier bounds."""

import pyspark.sql.functions as F
import pytest

from from_superset_to_clickhouse_spark.operators.temporal import (
    asof_join,
    range_join_bands,
)
from from_superset_to_clickhouse_spark.operators.text import token_chunks


@pytest.fixture(scope="module")
def left(spark):
    return spark.createDataFrame(
        [(1, "2024-01-05 10:00:00"), (1, "2024-01-01 00:00:00"),
         (1, "2024-01-03 00:00:00"), (2, "2024-02-01 00:00:00")],
        "k int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.fixture(scope="module")
def right(spark):
    return spark.createDataFrame(
        [(1, "2024-01-03", 100), (1, "2024-01-05", 200), (3, "2024-01-01", 9)],
        "k int, od string, v int",
    ).withColumn("od", F.col("od").cast("date"))


def test_asof_backward_inclusive(spark, left, right):
    got = {
        (r["k"], str(r["ts"])): r["asof_v"]
        for r in asof_join(left, right, "k", "ts", "od", ["v"]).collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] is None  # nothing earlier
    assert got[(1, "2024-01-03 00:00:00")] == 100   # exact-equal ts counts
    assert got[(1, "2024-01-05 10:00:00")] == 200   # latest earlier wins
    assert got[(2, "2024-02-01 00:00:00")] is None  # key absent on right


def test_asof_preserves_left_rowcount(spark, left, right):
    assert asof_join(left, right, "k", "ts", "od", ["v"]).count() == left.count()


def test_range_join_band_edges(spark):
    bands = spark.createDataFrame(
        [(0.0, 10.0, "a"), (10.0, 20.0, "b")], "lo double, hi double, t string"
    )
    fact = spark.createDataFrame(
        [(0.0,), (9.99,), (10.0,), (19.99,), (20.0,), (-1.0,)], "v double"
    )
    got = {r["v"]: r["t"] for r in range_join_bands(fact, bands, "v").collect()}
    # lo inclusive, hi exclusive; out-of-range keeps the row with NULL.
    assert got[0.0] == "a" and got[9.99] == "a"
    assert got[10.0] == "b" and got[19.99] == "b"
    assert got[20.0] is None and got[-1.0] is None


def test_range_join_is_broadcast(spark):
    import contextlib
    import io

    bands = spark.createDataFrame([(0.0, 10.0, "a")], "lo double, hi double, t string")
    fact = spark.createDataFrame([(1.0,)], "v double")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        range_join_bands(fact, bands, "v").explain("formatted")
    assert "BroadcastNestedLoopJoin" in buf.getvalue()


def test_token_chunks_partition_and_order(spark):
    text = " ".join(f"w{i}" for i in range(130))
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, ""), (4, "...!!!")], "doc_id int, text string"
    )
    rows = token_chunks(df, chunk_size=64).orderBy("doc_id", "chunk_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["n_tokens"] for r in by_doc[1]] == [64, 64, 2]
    # Chunks concatenate back to the full token stream, in order.
    assert " ".join(r["chunk_text"] for r in by_doc[1]) == text
    assert by_doc[2][0]["chunk_text"] == "a b"
    assert 3 not in by_doc and 4 not in by_doc  # token-less docs emit nothing


def test_approx_distinct_error_bound(spark):
    import __spark_entry__ as entry

    # q_approx_distinct was retired from queries() (VERDICT r8 item 2 —
    # sketch entries with no exact oracle print permanent `err` rows);
    # the operator keeps its accuracy contract here.
    rows = entry.q_approx_distinct(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        err = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert err <= 0.05, (r["event_type"], err)


def test_sketch_merge_matches_single_pass_and_exact(spark):
    """HLL mergeability: union of independent per-month sketches must
    equal the single-pass sketch of the same column exactly (merge is
    lossless by construction) and land within 5% of the exact distinct."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.01"
    row = entry.q_sketch_merge(spark, sf).first()  # retired from queries()
    ev = load_table(spark, sf, "events")
    single = ev.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("e")
    ).first()["e"]
    exact = ev.select("user_id").distinct().count()
    assert row["n_partials"] > 1  # the merge actually merged something
    assert row["merged_distinct_users"] == single
    err = abs(row["merged_distinct_users"] - exact) / max(exact, 1)
    assert err <= 0.05, (row["merged_distinct_users"], exact, err)


def test_train_test_split_is_key_stable_under_repartition(spark):
    from from_superset_to_clickhouse_spark.operators.sampling import (
        train_test_split,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id"
    )
    a = {r["doc_id"]: r["split"] for r in train_test_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in train_test_split(docs.repartition(7), "doc_id").collect()
    }
    assert a == b  # membership survives arbitrary repartitioning
    frac = sum(v == "train" for v in a.values()) / len(a)
    assert 0.7 < frac < 0.9


def test_stratified_sample_rates(spark):
    from from_superset_to_clickhouse_spark.operators.sampling import (
        stratified_sample,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "lang"
    )
    kept = stratified_sample(
        docs, "doc_id", "lang", {"en": 10000, "zh": 0}, default_bp=5000
    ).collect()
    langs = {r["lang"] for r in kept}
    n_en = sum(r["lang"] == "en" for r in kept)
    assert n_en == docs.filter("lang = 'en'").count()  # 100% stratum kept
    assert "zh" not in langs                            # 0% stratum dropped
    others = len(kept) - n_en
    total_others = docs.filter("lang NOT IN ('en','zh')").count()
    assert 0.3 < others / total_others < 0.7            # ~50% default


def test_pack_sequences_bins_and_scale_shape(spark):
    from from_superset_to_clickhouse_spark.operators.sampling import (
        pack_sequences,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "n_chars"
    )
    packed = pack_sequences(docs, "n_chars", budget=1000, shards=4)
    rows = sorted(
        packed.collect(), key=lambda r: (r["shard"], r["doc_id"])
    )
    # replay the greedy pack per shard and check bin/offset arithmetic
    cum = {}
    for r in rows:
        before = cum.get(r["shard"], 0)
        assert r["bin"] == before // 1000
        assert r["bin_offset"] == before % 1000
        cum[r["shard"]] = before + r["n_chars"]
    # membership is hash-of-key: identical after an arbitrary repartition
    again = pack_sequences(docs.repartition(13), "n_chars", budget=1000, shards=4)
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in rows}
    # scale shape: the window partitions by shard — no SinglePartition
    # exchange may appear anywhere in the plan
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_quantile_buckets_matches_definition_and_avoids_global_sort(spark):
    from from_superset_to_clickhouse_spark.operators.sampling import (
        quantile_buckets,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "n_chars"
    )
    out = quantile_buckets(docs, "n_chars", n_buckets=4)
    rows = out.collect()
    # replay the definition: boundary_p = smallest v with cume_dist >= p
    vals = sorted(r["n_chars"] for r in rows)
    n = len(vals)
    import math
    bounds = [vals[math.ceil(n * p) - 1] for p in (0.25, 0.5, 0.75)]
    for r in rows:
        want = 1 + sum(r["n_chars"] > b for b in bounds)
        assert r["tier"] == want, (r, bounds)
    # every tier populated, roughly balanced under ties
    from collections import Counter
    c = Counter(r["tier"] for r in rows)
    assert set(c) == {1, 2, 3, 4}
    # the tier-assignment plan must not contain a global sort/window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_weighted_mix_and_token_budget_mix(spark):
    """Source-weighted mixing: per-group keep counts track the declared
    rates; token-budget fill never exceeds a group's budget, admits in
    hash order (removing later-ordered rows never changes earlier
    membership), and groups absent from the budget map with
    default_budget=None pass through whole."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        hash_basis_points,
        token_budget_mix,
        weighted_mix,
    )

    rows = [(i, "a" if i % 2 == 0 else "b", 10 + i % 7) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, src string, toks int")

    mixed = weighted_mix(df, "id", "src", {"a": 10000, "b": 2500})
    counts = {r["src"]: r["n"] for r in
              mixed.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 1000                      # rate 10000 keeps all
    assert 150 < counts.get("b", 0) < 350           # ~25% of 1000
    # default_bp=0 drops unlisted groups entirely
    assert weighted_mix(df, "id", "src", {"a": 500}).filter(
        F.col("src") == "b"
    ).count() == 0

    budgeted = token_budget_mix(df, "id", "src", "toks", {"a": 200, "b": 150})
    sums = {r["src"]: r["s"] for r in
            budgeted.groupBy("src").agg(F.sum("toks").alias("s")).collect()}
    assert sums["a"] <= 200 and sums["b"] <= 150
    assert budgeted.count() > 0
    # unlisted group with default None passes through whole
    all_b = token_budget_mix(df, "id", "src", "toks", {"a": 200},
                             default_budget=None)
    assert all_b.filter(F.col("src") == "b").count() == 1000
    # prefix-stability: membership is decided by hash order, so a row
    # admitted under a budget stays admitted when the budget grows
    small = {r["id"] for r in
             token_budget_mix(df, "id", "src", "toks", {"a": 100, "b": 100})
             .collect()}
    large = {r["id"] for r in budgeted.collect()}
    assert small <= large
    # sanity: admitted set is exactly the hash-order prefix
    kept_a = [r["id"] for r in budgeted.filter(F.col("src") == "a").collect()]
    order = {r["id"]: r["h"] for r in df.filter(F.col("src") == "a").select(
        "id", hash_basis_points(F.col("id")).alias("h")).collect()}
    max_kept = max(order[i] for i in kept_a)
    dropped_better = [i for i, h in order.items()
                      if h < max_kept and i not in kept_a]
    assert dropped_better == []


def test_window_funnel_depths_and_reanchoring(spark):
    """windowFunnel semantics: full chain in window → depth 3; ordered
    prefix only → its depth; step outside the anchor window → chain
    stops; a LATER anchor re-opens the window (the max-anchor DP rule);
    users with no step-1 event → 0."""
    import datetime as dt

    from from_superset_to_clickhouse_spark.operators.temporal import (
        window_funnel,
    )

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        (1, T(1), "view"), (1, T(2), "click"), (1, T(2, 30), "purchase"),
        (2, T(1), "click"), (2, T(2), "view"),          # wrong order
        (3, T(1), "view"), (3, T(2), "click"), (3, T(9), "purchase"),
        (4, T(1), "view"), (4, T(7), "view"),           # re-anchor at 7h
        (4, T(8), "click"), (4, T(8, 30), "purchase"),
        (5, T(1), "error"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    got = {
        r["user_id"]: r["funnel_depth"]
        for r in window_funnel(
            df, ["view", "click", "purchase"], 2 * 3600 * 1_000_000
        ).collect()
    }
    assert got == {1: 3, 2: 1, 3: 2, 4: 3, 5: 0}


def test_retention_anchor_gating(spark):
    """retention: rk requires BOTH the anchor condition and condition k;
    a user matching later conditions without the anchor is all-false."""
    import datetime as dt

    from from_superset_to_clickhouse_spark.operators.temporal import retention

    D = lambda d: dt.datetime(2024, 1, d)
    rows = [
        (1, D(2), "signup"), (1, D(10), "purchase"),   # r1, r2; no r3
        (2, D(10), "purchase"), (2, D(25), "purchase"),  # no anchor
        (3, D(3), "signup"), (3, D(25), "purchase"),   # r1, r3
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    day = F.dayofmonth("ts")
    got = {
        r["user_id"]: (r["r1"], r["r2"], r["r3"])
        for r in retention(
            df,
            [
                (F.col("event_type") == "signup") & (day <= 7),
                (F.col("event_type") == "purchase") & (day > 7) & (day <= 14),
                (F.col("event_type") == "purchase") & (day > 21),
            ],
        ).collect()
    }
    assert got == {
        1: (True, True, False),
        2: (False, False, False),
        3: (True, False, True),
    }


def test_group_sample_k_exact_stable(spark):
    """Exactly k per group, repartition-stable, small groups intact."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        group_sample_k,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = group_sample_k(docs, "doc_id", "lang", 10)
    counts = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(10, sizes[lang])

    a = {r["doc_id"] for r in got.collect()}
    b = {r["doc_id"] for r in group_sample_k(docs.repartition(13), "doc_id", "lang", 10).collect()}
    assert a == b  # admission independent of physical layout


def test_resample_ffill_gaps_and_carry(spark):
    import datetime as dt

    from from_superset_to_clickhouse_spark.operators.temporal import (
        resample_ffill,
    )

    df = spark.createDataFrame(
        [
            ("k", dt.datetime(2024, 1, 1, 0, 10), 1.0),
            ("k", dt.datetime(2024, 1, 1, 0, 40), 2.0),
            # hours 1-2 empty -> gap rows carrying 3.0
            ("k", dt.datetime(2024, 1, 1, 3, 5), 7.0),
            ("j", dt.datetime(2024, 1, 1, 5, 0), 4.0),
        ],
        "key string, ts timestamp, value double",
    )
    rows = {
        (r["key"], r["bucket"].hour): (r["n_events"], r["val"], r["is_gap"])
        for r in resample_ffill(df, "key", "ts", "value").collect()
    }
    # k spans hours 0..3 (4 rows), j is a single bucket
    assert len(rows) == 5
    assert rows[("k", 0)] == (2, 3.0, 0)
    assert rows[("k", 1)] == (0, 3.0, 1)
    assert rows[("k", 2)] == (0, 3.0, 1)
    assert rows[("k", 3)] == (1, 7.0, 0)
    assert rows[("j", 5)] == (1, 4.0, 0)


def test_weighted_sample_rates_and_key_stability(spark):
    from from_superset_to_clickhouse_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.range(20000).select(
        F.col("id").alias("k"),
        # weights 1 and 4: inclusion rates must track the 1:4 ratio
        (F.pmod(F.col("id"), F.lit(2)) * 3 + 1).alias("w"),
    )
    kept = weighted_sample(df, "k", "w", target_bp=2000, w_ref=4)
    rates = {
        r["w"]: r["n"]
        for r in kept.groupBy("w").agg(F.count("*").alias("n")).collect()
    }
    # P(keep | w=4) = 0.2, P(keep | w=1) = 0.05 over 10k keys each
    assert rates[4] == pytest.approx(2000, rel=0.1)
    assert rates[1] == pytest.approx(500, rel=0.15)
    # key-stable: same membership after an arbitrary repartition
    again = weighted_sample(
        df.repartition(13), "k", "w", target_bp=2000, w_ref=4
    )
    assert {r["k"] for r in again.collect()} == {
        r["k"] for r in kept.collect()
    }


def test_proximity_join_binned_equals_brute_force(spark):
    import datetime as dt

    from from_superset_to_clickhouse_spark.operators.temporal import (
        proximity_join_binned,
    )

    base = dt.datetime(2024, 1, 1)
    # pairs straddling bucket boundaries and sitting exactly AT the
    # tolerance edge (inclusive) — the pigeonhole + verify must agree
    # with brute force on all of them
    left = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in
         [(1, 0), (2, 299), (3, 301), (4, 900), (5, 1200)]],
        "event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in
         [(10, 300), (11, 601), (12, 899), (13, 1500)]],
        "event_id long, ts timestamp",
    )
    got = sorted(
        (r["l_event_id"], r["r_event_id"])
        for r in proximity_join_binned(left, right).collect()
    )
    tol = 300_000_000
    lrows = [(i, ts) for i, ts in left.collect()]
    rrows = [(i, ts) for i, ts in right.collect()]
    want = sorted(
        (li, ri)
        for li, lts in lrows
        for ri, rts in rrows
        if abs((lts - rts).total_seconds() * 1e6) <= tol
    )
    assert got == want
    assert (1, 10) in got      # exactly at tolerance: inclusive
    assert (3, 11) in got      # crosses a bucket boundary


def test_ohlc_bars_open_close_ordering(spark):
    """OHLC per 6-hour bar: open/close follow (ts, tiebreak) order —
    including simultaneous ticks — and bars align to epoch multiples."""
    import datetime as dt

    from pyspark.sql import functions as F

    from from_superset_to_clickhouse_spark.operators.temporal import ohlc_bars

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        ("x", t0, 1, 10.0),
        ("x", dt.datetime(2024, 1, 1, 3, 0), 2, 50.0),
        ("x", dt.datetime(2024, 1, 1, 5, 59), 3, 20.0),
        # simultaneous last ticks: event_id breaks the tie -> close=7.0
        ("x", dt.datetime(2024, 1, 1, 5, 59), 4, 7.0),
        ("x", dt.datetime(2024, 1, 1, 6, 0), 5, 99.0),  # next bar
        ("y", t0, 6, 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v double")
    got = {
        (r["k"], r["bar_start"]): r.asDict()
        for r in ohlc_bars(df, "k", "ts", "v", "eid").collect()
    }
    b0 = got[("x", dt.datetime(2024, 1, 1, 0, 0))]
    assert (b0["open"], b0["high"], b0["low"], b0["close"]) == (10.0, 50.0, 7.0, 7.0)
    assert b0["volume"] == 4 and b0["sum_value"] == 87.0
    b1 = got[("x", dt.datetime(2024, 1, 1, 6, 0))]
    assert (b1["open"], b1["close"], b1["volume"]) == (99.0, 99.0, 1)
    assert got[("y", dt.datetime(2024, 1, 1, 0, 0))]["open"] == 3.0
    # decomposable-aggregate claim: no window sort in the plan
    plan = ohlc_bars(df, "k", "ts", "v", "eid")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_seeded_shuffle_total_order_and_determinism(spark):
    """seeded_shuffle: same seed -> identical global order under any
    input layout; different seed -> different order; range partitions
    are globally ordered (max of partition i < min of partition i+1)."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        seeded_shuffle,
    )

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = [
        r["doc_id"]
        for r in seeded_shuffle(df, "doc_id", seed=1, out_partitions=4)
        .select("doc_id")
        .collect()
    ]
    b = [
        r["doc_id"]
        for r in seeded_shuffle(
            df.repartition(7), "doc_id", seed=1, out_partitions=4
        )
        .select("doc_id")
        .collect()
    ]
    assert a == b  # layout-independent
    c = [
        r["doc_id"]
        for r in seeded_shuffle(df, "doc_id", seed=2, out_partitions=4)
        .select("doc_id")
        .collect()
    ]
    assert a != c and sorted(a) == sorted(c)
    # global order across range partitions
    parts = (
        seeded_shuffle(df, "doc_id", seed=1, out_partitions=4)
        .select("_skey")
        .rdd.glom()
        .collect()
    )
    bounds = [(p[0]["_skey"], p[-1]["_skey"]) for p in parts if p]
    for (lo, hi), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi < lo2


def test_ewma_smooth_hand_values_and_null_skip(spark):
    """EWMA over a 3-row trailing frame, alpha=0.5: weights halve with
    age and normalize; the first rows use shorter frames; NULL values
    are excluded BEFORE framing so decay ages refer to observed
    points."""
    from from_superset_to_clickhouse_spark.operators.temporal import (
        ewma_smooth,
    )

    rows = [
        ("k", 1, 10.0), ("k", 2, None), ("k", 3, 20.0), ("k", 4, 40.0),
        ("other", 1, 7.0),
    ]
    df = spark.createDataFrame(rows, "g string, t int, v double")
    got = {
        (r["g"], r["t"]): r["smoothed"]
        for r in ewma_smooth(
            df, "g", "t", "v", alpha=0.5, lookback=3
        ).collect()
    }
    assert got[("k", 1)] == 10.0
    # frame [10, 20], weights [.5, 1] -> (5+20)/1.5
    assert got[("k", 3)] == round(25.0 / 1.5, 6)
    # frame [10, 20, 40], weights [.25, .5, 1] -> (2.5+10+40)/1.75
    assert got[("k", 4)] == round(52.5 / 1.75, 6)
    assert got[("other", 1)] == 7.0
    assert ("k", 2) not in got  # NULL row dropped, not zero-filled


def test_weighted_reservoir_aes_properties(spark):
    """A-ES exact-k weighted sampling: output size exactly k; a whale
    weight is always included; the sample replays bit-for-bit from the
    documented md5/pow key formula; inclusion frequency across many
    disjoint seeds tracks the weight ratio."""
    import hashlib

    from from_superset_to_clickhouse_spark.operators import (
        sampling as smp,
    )

    rows = [(i, 1.0 if i else 1e6) for i in range(200)]  # id 0 is a whale
    df = spark.createDataFrame(rows, "id long, w double")
    got = smp.weighted_reservoir_k(df, "id", "w", k=10, seed=3).collect()
    assert len(got) == 10
    assert 0 in {r["id"] for r in got}  # whale always sampled

    # python replay of the exact key formula
    def key(i, w, seed):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:13]
        u = int(h, 16) / float(1 << 52)
        return round(u ** (1.0 / w), 12)

    want = sorted(
        ((key(i, w, 3), i) for i, w in rows),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert {(r["id"], r["es_key"]) for r in got} == {
        (i, k) for k, i in want
    }

    # proportionality: item with weight 3 is sampled ~3x as often as
    # weight 1 across seeds (k=1 draws so inclusion == selection)
    small = spark.createDataFrame(
        [(1, 3.0), (2, 1.0)], "id long, w double"
    )
    wins = {1: 0, 2: 0}
    for s in range(200):
        r = smp.weighted_reservoir_k(small, "id", "w", k=1, seed=s).first()
        wins[r["id"]] += 1
    # expected 150/50; allow generous binomial slack
    assert 120 <= wins[1] <= 180, wins


def _seq_df(spark, rows):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, base + timedelta(hours=h), 7, ty)
            for i, (h, ty) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )


def test_sequence_match_exact_dp_not_greedy(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_match,
    )

    # the case that breaks a naive one-pass automaton: an isolated
    # early 'view' (no click within gap) must NOT poison the later
    # tight view->click->purchase triple
    df = _seq_df(
        spark,
        [(0, "view"), (100, "view"), (101, "click"), (102, "purchase")],
    )
    r = sequence_match(
        df,
        ["view", "click", "purchase"],
        max_gap_micros=3_600_000_000 * 2,  # 2h gap
    ).first()
    assert r["matched"] is True and r["n_matches"] == 1


def test_sequence_match_disjoint_count_and_gap(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_match,
    )

    steps = ["view", "click", "purchase"]
    gap2h = 2 * 3_600_000_000
    # two disjoint matches; middle events interleave freely
    df = _seq_df(
        spark,
        [
            (0, "view"), (1, "error"), (2, "click"), (3, "purchase"),
            (10, "view"), (11, "click"), (12, "purchase"),
        ],
    )
    r = sequence_match(df, steps, max_gap_micros=gap2h).first()
    assert r["n_matches"] == 2

    # shared prefix can't double-count: v c p p = 1 match (restart
    # needs a fresh view)
    df2 = _seq_df(
        spark, [(0, "view"), (1, "click"), (2, "purchase"), (3, "purchase")]
    )
    assert (
        sequence_match(df2, steps, max_gap_micros=gap2h).first()["n_matches"]
        == 1
    )

    # gap boundary: exactly == gap passes, over fails
    df3 = _seq_df(spark, [(0, "view"), (2, "click"), (4, "purchase")])
    assert (
        sequence_match(df3, steps, max_gap_micros=gap2h).first()["matched"]
        is True
    )
    df4 = _seq_df(spark, [(0, "view"), (3, "click"), (5, "purchase")])
    assert (
        sequence_match(df4, steps, max_gap_micros=gap2h).first()["matched"]
        is False
    )

    # no-gap variant: any-order-gap subsequence
    assert (
        sequence_match(df4, steps).first()["matched"] is True
    )

    # wrong order never matches
    df5 = _seq_df(spark, [(0, "purchase"), (1, "click"), (2, "view")])
    assert sequence_match(df5, steps).first()["matched"] is False


def test_sequence_match_matches_python_reference(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_match,
    )
    import random

    rng = random.Random(42)
    types = ["view", "click", "purchase", "error"]
    rows = []
    per_user = {}
    for u in range(20):
        evs = sorted(
            (rng.randint(0, 500), rng.choice(types)) for _ in range(40)
        )
        # dedupe hours so ts are unique per user (operator contract)
        seen, uniq = set(), []
        for h, ty in evs:
            if h not in seen:
                seen.add(h)
                uniq.append((h, ty))
        per_user[u] = uniq
        rows += [(u, h, ty) for h, ty in uniq]
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (i, base + timedelta(hours=h), u, ty)
            for i, (u, h, ty) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    GAP = 24 * 3_600_000_000
    got = {
        r["user_id"]: r["n_matches"]
        for r in sequence_match(
            df, ["view", "click", "purchase"], max_gap_micros=GAP
        ).collect()
    }
    step_of = {"view": 1, "click": 2, "purchase": 3}
    for u, evs in per_user.items():
        a = [None, None, None]
        c = 0
        for h, ty in evs:
            k = step_of.get(ty, 0)
            if not k:
                continue
            t = h * 3_600_000_000
            feas = k == 1 or (a[k - 2] is not None and t - a[k - 2] <= GAP)
            if k == 3 and feas:
                c += 1
                a = [None, None, None]
            elif feas:
                a[k - 1] = t
        if any(step_of.get(ty) for _, ty in evs):
            assert got[u] == c, (u, got[u], c)


def test_mad_outliers_breakdown_resistance(spark):
    from from_superset_to_clickhouse_spark.operators.stats import mad_outliers

    # 9 inliers around 10 plus one wild point: classic z-score spread
    # would be inflated by the spike; MAD flags it anyway
    vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.5, 10.5, 11.0, 11.0, 1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    rows = {r.v: r for r in mad_outliers(df, "v", ["g"]).collect()}
    assert rows[1000.0].is_outlier
    assert sum(r.is_outlier for r in rows.values()) == 1
    assert rows[10.0].center == 10.25  # interpolated even-count median
    # degenerate group: >50% identical -> MAD 0 -> NULL rz, never flagged
    dg = spark.createDataFrame(
        [("d", 5.0)] * 6 + [("d", 99.0)], "g string, v double"
    )
    out = mad_outliers(dg, "v", ["g"]).collect()
    assert all(r.rz is None and not r.is_outlier for r in out)


def test_cusum_closed_form_equals_recursion(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        cusum_changepoints,
    )

    # one point per day: bucket means == raw values; shift at day 20
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = 10.0 + (i % 3) * 0.5 + (5.0 if i >= 20 else 0.0)
        rows.append(("k", base + datetime.timedelta(days=i), v))
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")
    got = {
        r.bucket_ts.day if r.bucket_ts.month == 1 else 31 + r.bucket_ts.day: r
    for r in cusum_changepoints(df, "key", "ts", "v", bucket="1 day").collect()}
    assert len(got) == 30
    # replay the textbook recursion on the standardized series
    xs = [10.0 + (i % 3) * 0.5 + (5.0 if i >= 20 else 0.0) for i in range(30)]
    mu = sum(xs) / 30
    var = sum((x - mu) ** 2 for x in xs) / 29
    sd = var ** 0.5
    zs = [(x - mu) / sd for x in xs]
    s_hi = s_lo = 0.0
    for i, z in enumerate(zs):
        s_hi = max(0.0, s_hi + z - 0.5)
        s_lo = max(0.0, s_lo - z - 0.5)
        r = got[i + 1]
        assert abs(r.s_hi - s_hi) < 1e-5 and abs(r.s_lo - s_lo) < 1e-5
    # the shift is detected after day 20 and nowhere before
    assert not any(got[i + 1].signal for i in range(20))
    assert any(got[i + 1].signal for i in range(20, 30))


def test_holt_forecast_recovers_linear_trend(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        holt_forecast,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [("k", base + datetime.timedelta(days=i), 100.0 + 3.0 * i)
            for i in range(40)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")
    r = holt_forecast(df, "key", "ts", "v", bucket="1 day",
                      alpha=0.5, beta=0.25, horizon=10).collect()[0]
    assert r.n_buckets == 40
    # on a pure linear series the trend converges to the slope
    assert abs(r.trend - 3.0) < 0.05
    assert abs(r.forecast - (r.level + 10 * r.trend)) < 1e-6
    # replay the recursion directly
    xs = [100.0 + 3.0 * i for i in range(40)]
    l, b = xs[0], 0.0
    for x in xs[1:]:
        ln = 0.5 * x + 0.5 * (l + b)
        bn = 0.25 * (ln - l) + 0.75 * b
        l, b = ln, bn
    assert abs(r.level - l) < 1e-6 and abs(r.trend - b) < 1e-6
    # single-bucket key: level = the value, zero trend
    one = spark.createDataFrame(
        [("s", base, 42.0)], "key string, ts timestamp, v double"
    )
    r1 = holt_forecast(one, "key", "ts", "v").collect()[0]
    assert (r1.n_buckets, r1.level, r1.trend) == (1, 42.0, 0.0)


def test_range_join_grid_equals_theta(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        range_join_grid,
    )

    fact = spark.createDataFrame(
        [(1, 0.5), (2, 3.0), (3, 10.0), (4, 999.0), (5, 4.0)],
        "id long, v double",
    )
    # overlapping ranges, one spanning many cells, boundary cases
    ranges = spark.createDataFrame(
        [("a", 0.0, 4.0), ("b", 3.0, 5.0), ("c", 9.0, 10.0), ("d", 2.0, 40.0)],
        "tag string, lo double, hi double",
    )
    got = {(r.id, r.tag) for r in
           range_join_grid(fact, ranges, "v", cell=2.0).collect()}
    want = set()
    rows = [(1, 0.5), (2, 3.0), (3, 10.0), (4, 999.0), (5, 4.0)]
    bands = [("a", 0.0, 4.0), ("b", 3.0, 5.0), ("c", 9.0, 10.0), ("d", 2.0, 40.0)]
    for i, v in rows:
        hit = False
        for t, lo, hi in bands:
            if lo <= v < hi:
                want.add((i, t)); hit = True
        if not hit:
            want.add((i, None))
    assert got == want
    # hi exclusive: v=10.0 must NOT match c=[9,10)
    assert (3, "c") not in got and (3, "d") in got


def test_winsorize_clips_tails(spark):
    from from_superset_to_clickhouse_spark.operators.stats import winsorize

    vals = list(range(1, 100)) + [10_000]  # one wild outlier
    df = spark.createDataFrame([("g", float(v)) for v in vals],
                               "g string, v double")
    out = {r.v: r for r in winsorize(df, "v", ["g"], 0.05, 0.95).collect()}
    assert out[10_000.0].clipped == out[10_000.0].p_hi  # clipped to p95
    assert out[50.0].clipped == 50.0                    # interior untouched
    assert out[1.0].clipped == out[1.0].p_lo


def test_acf_alternating_signal(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import acf

    base = datetime.datetime(2024, 1, 1)
    rows = [("k", base + datetime.timedelta(days=i),
             100.0 + (50.0 if i % 2 else -50.0)) for i in range(30)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")
    got = {r.lag: r.acf for r in acf(
        df, "key", "ts", "v", bucket="1 day", max_lag=4).collect()}
    assert got[1] < -0.9 and got[2] > 0.85  # period-2 correlogram
    assert got[3] < -0.8 and got[4] > 0.8
    # python replay at lag 1
    xs = [100.0 + (50.0 if i % 2 else -50.0) for i in range(30)]
    mu = sum(xs) / len(xs)
    c = [x - mu for x in xs]
    r1 = sum(c[i] * c[i - 1] for i in range(1, 30)) / sum(v * v for v in c)
    assert abs(got[1] - round(r1, 6)) < 1e-9


def test_page_hinkley_replay_and_alarm(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        page_hinkley,
    )

    base = datetime.datetime(2024, 1, 1)
    # level shift of +30 from day 20
    xs = [100.0 + (i % 3) + (30.0 if i >= 20 else 0.0) for i in range(30)]
    rows = [("k", base + datetime.timedelta(days=i), xs[i])
            for i in range(30)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")
    got = {r.bucket_ts.day: (r.ph, r.alarm) for r in page_hinkley(
        df, "key", "ts", "v", bucket="1 day", delta=0.0, lam=50.0
    ).collect()}
    # python replay of the recursion
    m, mn, cum = 0.0, 0.0, 0.0
    for i, x in enumerate(xs):
        cum += x
        mbar = cum / (i + 1)
        m += x - mbar
        mn = min(mn, m)
        ph = m - mn
        assert abs(got[i + 1][0] - round(ph, 6)) < 1e-9, i
        assert got[i + 1][1] == (ph > 50.0)
    # the shift must actually fire, and not before it happened
    assert any(a for d, (p, a) in got.items() if d > 20)
    assert not any(a for d, (p, a) in got.items() if d <= 20)


def test_seasonal_decompose_recovers_planted_period(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        seasonal_decompose,
    )

    base = datetime.datetime(2024, 1, 1)
    seas = [12.0, -8.0, 3.0, 0.0, -4.0, 9.0, -12.0]  # sums to 0
    xs = [50.0 + 2.0 * i + seas[i % 7] for i in range(28)]
    rows = [("k", base + datetime.timedelta(days=i), xs[i])
            for i in range(28)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")
    out = sorted(
        seasonal_decompose(df, "key", "ts", "v", bucket="1 day",
                           period=7).collect(),
        key=lambda r: r.bucket_ts,
    )
    assert len(out) == 28
    # edges (first/last 3) have no trend; interior is the exact linear
    # trend because the planted seasonal sums to zero over any 7 window
    for i, r in enumerate(out):
        if i < 3 or i >= 25:
            assert r.trend is None and r.resid is None
        else:
            assert abs(r.trend - (50.0 + 2.0 * i)) < 1e-6, i
            assert abs(r.resid) < 1e-6
    # the recovered phase effects match the planted ones
    ph = {i % 7: r.seasonal for i, r in enumerate(out)}
    for p in range(7):
        assert abs(ph[p] - seas[p]) < 1e-6
    # seasonal components re-center to zero
    assert abs(sum(ph.values())) < 1e-6


def test_delta_sum_and_net(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        delta_sum,
    )

    t0 = datetime.datetime(2024, 1, 1)
    vals = [10.0, 13.0, 11.0, 11.0, 20.0]  # +3, -2, 0, +9
    rows = [
        ("k", t0 + datetime.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, i int, v double")
    r = delta_sum(df, "g", "ts", "v", "i").collect()[0]
    assert r.n == 5
    assert abs(r.delta_sum - 12.0) < 1e-6
    assert abs(r.neg_delta_sum - 2.0) < 1e-6
    assert r.net == 10.0


def test_bounding_ratio_endpoint_slope(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        bounding_ratio,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("k", t0, 0, 100.0),
        ("k", t0 + datetime.timedelta(seconds=5), 1, 999.0),  # interior
        ("k", t0 + datetime.timedelta(seconds=10), 2, 150.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, i int, v double")
    r = bounding_ratio(df, "g", "ts", "v", "i").collect()[0]
    assert r.n == 3 and r.rate_per_s == 5.0  # (150-100)/10s


def test_twap_duration_weighting(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import twap

    t0 = datetime.datetime(2024, 1, 1)
    # 10.0 held 30 s, 20.0 held 10 s, last obs carries no weight
    rows = [
        ("k", t0, 10.0),
        ("k", t0 + datetime.timedelta(seconds=30), 20.0),
        ("k", t0 + datetime.timedelta(seconds=40), 99.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    r = twap(df, "g", "ts", "v").collect()[0]
    assert r.n == 2
    want = (10.0 * 30 + 20.0 * 10) / 40  # 12.5
    assert abs(r.twap - want) < 1e-3
    # plain AVG would be 43.0 — duration weighting is load-bearing
    assert abs(r.twap - 43.0) > 20


def test_interval_union_counts_overlap_once(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        interval_union_length,
    )

    t0 = datetime.datetime(2024, 1, 1)
    secs = [0, 100, 600]  # [0,300)+[100,400) merge; [600,900) separate
    rows = [("u", t0 + datetime.timedelta(seconds=s)) for s in secs]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = interval_union_length(df, "g", "ts", 300).collect()[0]
    assert r.n == 3 and r.n_islands == 2
    assert r.covered_us == (400 + 300) * 1_000_000


def test_max_intersections_peak_and_position(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        max_intersections,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # [0,300) [100,400) [200,500) -> peak 3 at t=200; [600,900) alone
    secs = [0, 100, 200, 600]
    rows = [("g", t0 + datetime.timedelta(seconds=s)) for s in secs]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = max_intersections(df, "g", "ts", 300).collect()[0]
    import calendar

    base_us = calendar.timegm(t0.timetuple()) * 1_000_000
    assert r.max_conc == 3
    assert r.at_us == base_us + 200 * 1_000_000


def test_max_intersections_halfopen_boundary(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        max_intersections,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # second interval starts EXACTLY when first ends: never concurrent
    rows = [("g", t0), ("g", t0 + datetime.timedelta(seconds=300))]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    assert max_intersections(df, "g", "ts", 300).collect()[0].max_conc == 1


def _daily_series(spark, vals, key="g"):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (key, t0 + datetime.timedelta(days=i), float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "g string, ts timestamp, v double")


def test_periodogram_finds_planted_harmonic(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.temporal import (
        periodogram,
    )

    n = 32
    vals = [10 + 5 * math.cos(2 * math.pi * 4 * t / n) for t in range(n)]
    df = _daily_series(spark, vals)
    got = {r.k: r.power for r in periodogram(df, "g", "ts", "v").collect()}
    assert got[4] > 100  # N*A^2/4 = 200
    for k in (1, 2, 3, 5, 6, 7, 8):
        assert got[k] < 1e-6


def test_yule_walker_recovers_ar2(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        yule_walker_ar2,
    )

    # deterministic AR(2): x_t = 0.6 x_{t-1} - 0.2 x_{t-2} + e_t with
    # a fixed pseudo-noise sequence
    import random

    phi1, phi2 = 0.6, -0.2
    rng = random.Random(7)
    x = [0.0, 0.0]
    for _ in range(2, 600):
        x.append(phi1 * x[-1] + phi2 * x[-2] + rng.uniform(-0.5, 0.5))
    df = _daily_series(spark, x[100:])  # drop burn-in
    r = yule_walker_ar2(df, "g", "ts", "v").collect()[0]
    assert abs(r.phi1 - phi1) < 0.15
    assert abs(r.phi2 - phi2) < 0.15
    assert 0 < r.sigma2_ratio <= 1


def test_pacf_cuts_off_for_ar1(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import pacf

    import random

    rng = random.Random(11)
    x = [0.0]
    for _ in range(1, 600):
        x.append(0.7 * x[-1] + rng.uniform(-0.5, 0.5))
    df = _daily_series(spark, x[100:])
    got = {r.lag: r.pacf for r in pacf(df, "g", "ts", "v").collect()}
    assert abs(got[1] - 0.7) < 0.15
    assert abs(got[2]) < 0.15 and abs(got[3]) < 0.15


def test_haar_energy_conservation_and_flat(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        haar_energy,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # event counts per day: alternate 1 and 3 events -> all detail at
    # level 1, none at level 2
    rows = []
    for d in range(28):
        for _ in range(1 if d % 2 == 0 else 3):
            rows.append(("g", t0 + datetime.timedelta(days=d), 0.0))
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    r = haar_energy(df, "g", "ts", "v").collect()[0]
    assert r.n == 28
    assert abs(r.e_total - (r.e_d1 + r.e_d2 + r.e_a2)) < 1e-9
    # x = [1,3,1,3,...]: d1 = -2 each pair -> e_d1 = 14*4/2 = 28
    assert r.e_d1 == 28.0 and r.e_d2 == 0.0
    # constant series: zero detail energy at both scales
    rows2 = [
        ("h", t0 + datetime.timedelta(days=d, hours=h), 0.0)
        for d in range(28)
        for h in (1, 2)
    ]
    df2 = spark.createDataFrame(rows2, "g string, ts timestamp, v double")
    r2 = haar_energy(df2, "g", "ts", "v").collect()[0]
    assert r2.e_d1 == 0.0 and r2.e_d2 == 0.0
    assert r2.e_total == r2.e_a2 == 28 * 4.0


def test_forecast_eval_reference(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        forecast_eval,
    )

    # strict weekly pattern: seasonal-naive is perfect, naive is not
    pattern = [10.0, 20.0, 30.0, 40.0, 30.0, 20.0, 10.0]
    vals = pattern * 4  # 28 days
    df = _daily_series(spark, vals)
    r = forecast_eval(df, "g", "ts", "v", season=7).collect()[0]
    assert r.n_eval == 21
    assert r.mae_snaive == 0.0
    assert r.mase is None  # perfect seasonal scale -> undefined ratio
    want_mae1 = sum(
        abs(vals[t] - vals[t - 1]) for t in range(7, 28)
    ) / 21
    assert abs(r.mae_naive - want_mae1) < 1e-6


def test_forecast_eval_mase_below_one_for_trend(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        forecast_eval,
    )

    # smooth ramp: yesterday is a far better forecast than last week
    vals = [float(i) for i in range(28)]
    r = forecast_eval(
        _daily_series(spark, vals), "g", "ts", "v", season=7
    ).collect()[0]
    assert r.mae_naive == 1.0 and r.mae_snaive == 7.0
    assert abs(r.mase - round(1 / 7, 6)) < 1e-9


def test_holt_winters_learns_seasonal_pattern(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        holt_winters,
    )

    season = [0.0, 10.0, 20.0, 5.0, -5.0, -10.0, -20.0]
    vals = [100.0 + season[t % 7] for t in range(35)]
    df = _daily_series(spark, vals)
    r = holt_winters(df, "g", "ts", "v", period=7).collect()[0]
    assert r.n_buckets == 35
    assert abs(r.level - 100.0) < 2.0
    assert abs(r.trend) < 1.0
    # next bucket is t=35 -> season[0]; forecast ≈ 100
    assert abs(r.forecast - 100.0) < 3.0


def test_holt_winters_tracks_trend_plus_season(spark):
    from from_superset_to_clickhouse_spark.operators.temporal import (
        holt_winters,
    )

    season = [5.0, -5.0, 10.0, -10.0, 0.0, 3.0, -3.0]
    vals = [50.0 + 2.0 * t + season[t % 7] for t in range(84)]
    df = _daily_series(spark, vals)
    r = holt_winters(df, "g", "ts", "v", period=7).collect()[0]
    nxt = 50.0 + 2.0 * 84 + season[84 % 7]
    assert abs(r.forecast - nxt) < 5.0
    # beta=0.25 from b0=0 converges slowly; 84 steps gets close
    assert abs(r.trend - 2.0) < 0.5


def test_sequence_count_greedy_non_overlapping(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_count,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def row(u, m, t):
        return (u, t0 + datetime.timedelta(minutes=m), m, t)

    rows = [
        # u1: V V P P -> greedy: first V matches first P -> 1 match,
        # second V opened BEFORE first P? scan: V(open) V(ignored)
        # P(close,1) P(no open) -> 1
        row(1, 0, "view"), row(1, 1, "view"),
        row(1, 2, "purchase"), row(1, 3, "purchase"),
        # u2: V P V P -> 2 disjoint matches
        row(2, 0, "view"), row(2, 1, "purchase"),
        row(2, 2, "view"), row(2, 3, "purchase"),
        # u3: P V -> purchase before any view -> 0
        row(3, 0, "purchase"), row(3, 1, "view"),
        # u4: noise between: V click P -> 1 (gaps allowed)
        row(4, 0, "view"), row(4, 1, "click"), row(4, 2, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, event_type string"
    )
    got = {r.user: r.seq_count for r in sequence_count(
        df, "user_id", "ts", "event_type", "view", "purchase",
        tiebreak_col="event_id",
    ).collect()}
    assert got == {1: 1, 2: 2, 3: 0, 4: 1}


def test_cohort_ltv_triangle(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        cohort_ltv,
    )

    # week-aligned Mondays so cohorts/ages are unambiguous
    w0 = datetime.datetime(2024, 1, 1)  # a Monday
    rows = [
        # cohort w0: u1 spends 10 in week 0, 20 in week 1
        (1, w0, 10.0), (1, w0 + datetime.timedelta(days=8), 20.0),
        # cohort w0: u2 spends 30 in week 0 only
        (2, w0 + datetime.timedelta(days=2), 30.0),
        # cohort w1: u3 spends 40
        (3, w0 + datetime.timedelta(days=7), 40.0),
    ]
    df = spark.createDataFrame(rows, "u int, ts timestamp, v double")
    got = {(r.cohort_ts.day, r.age): r
           for r in cohort_ltv(df, "u", "ts", "v").collect()}
    r00 = got[(1, 0)]
    assert r00.n_users == 2 and r00.revenue == 40.0
    assert r00.cum_ltv == 20.0
    r01 = got[(1, 1)]
    assert r01.revenue == 20.0 and r01.cum_revenue == 60.0
    assert r01.cum_ltv == 30.0
    r10 = got[(8, 0)]
    assert r10.n_users == 1 and r10.cum_ltv == 40.0


def test_data_gaps_longest_run(spark):
    import datetime

    from from_superset_to_clickhouse_spark.operators.temporal import (
        data_gaps,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # present days 1,2,6,7,20 -> span 20 days, 5 present, longest gap
    # = days 8..19 = 12 missing days
    days = [0, 1, 5, 6, 19]
    rows = [("u", t0 + datetime.timedelta(days=d)) for d in days]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = data_gaps(df, "g", "ts").collect()[0]
    assert r.expected == 20 and r.present == 5
    assert r.missing == 15
    assert r.longest_gap == 12
    # dense key: no gaps
    rows2 = [("v", t0 + datetime.timedelta(days=d)) for d in range(4)]
    r2 = data_gaps(
        spark.createDataFrame(rows2, "g string, ts timestamp"), "g", "ts"
    ).collect()[0]
    assert r2.missing == 0 and r2.longest_gap == 0


def test_sequence_count_strict_vs_relaxed(spark):
    """Strict adjacency counts only immediate view->purchase pairs;
    the relaxed automaton counts eventually-followed pairs — checked
    against hand-traced streams."""
    import datetime as dt

    from from_superset_to_clickhouse_spark.operators.temporal import (
        sequence_count,
        sequence_count_strict,
    )

    BASE = dt.datetime(2024, 1, 1)

    def build(s):
        rows = [
            (1, BASE + dt.timedelta(minutes=i), t, i)
            for i, t in enumerate(s)
        ]
        return spark.createDataFrame(
            rows, "u long, ts timestamp, t string, event_id long"
        )

    # a x b: relaxed matches (a..b) = 1, strict = 0
    df = build("axb")
    assert sequence_count(df, "u", "ts", "t", "a", "b").first()[
        "seq_count"] == 1
    assert sequence_count_strict(df, "u", "ts", "t", "a", "b").first()[
        "seq_count"] == 0
    # aab: strict = 1 (second a immediately followed); abab = 2
    assert sequence_count_strict(build("aab"), "u", "ts", "t", "a", "b"
                                 ).first()["seq_count"] == 1
    assert sequence_count_strict(build("abab"), "u", "ts", "t", "a", "b"
                                 ).first()["seq_count"] == 2


def test_dtw_distance_reference_model(spark):
    """DTW equals the O(n·m) reference DP; identical series score 0,
    a 1-step phase shift scores the boundary cost only."""
    import datetime as dt

    from from_superset_to_clickhouse_spark.operators.temporal import (
        dtw_distance,
    )

    BASE = dt.datetime(2024, 1, 1)
    rows = []
    ser = {
        "ref": [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
        "same": [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
        "shift": [1.0, 3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0],
        "anti": [9.0, 6.0, 2.0, 8.0, 1.0, 0.0, 7.0, 3.0],
    }
    for k, vs in ser.items():
        for d, v in enumerate(vs):
            rows.append((k, BASE + dt.timedelta(days=d), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {
        r["key"]: r["dtw"]
        for r in dtw_distance(df, "k", "ts", "v", ref_key="ref").collect()
    }

    def ref_dtw(xs, ys):
        inf = float("inf")
        n, m = len(xs), len(ys)
        D = [[inf] * (m + 1) for _ in range(n + 1)]
        D[0][0] = 0.0
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                D[i][j] = abs(xs[i - 1] - ys[j - 1]) + min(
                    D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
                )
        return D[n][m]

    for k, vs in ser.items():
        assert abs(got[k] - ref_dtw(vs, ser["ref"])) < 1e-6, k
    assert got["same"] == 0.0
    assert got["shift"] < got["anti"]
    # ADVICE r9: a misspelled reference key must raise, not silently
    # return an empty frame.
    import pytest

    with pytest.raises(ValueError, match="no rows"):
        dtw_distance(df, "k", "ts", "v", ref_key="nope")


def test_hurst_trending_beats_alternating(spark):
    """A strongly persistent (monotone) series must score a higher
    R/S slope than a violently mean-reverting (alternating) one, and
    both land in a sane [-0.5, 1.5] window."""
    import math

    from from_superset_to_clickhouse_spark.operators.temporal import (
        hurst_rs,
    )

    n = 128
    rows = []
    for i in range(n):
        rows.append(("trend", i, float(i)))
        rows.append(("alt", i, 10.0 if i % 2 else -10.0))
        rows.append(("sin", i, math.sin(i / 3.0) * 5))
    df = spark.createDataFrame(rows, "g string, o int, v double")
    out = {r["grp"]: r for r in
           hurst_rs(df, "v", "o", "g").collect()}
    assert out["trend"]["n_scales"] >= 3
    assert out["trend"]["h"] > 0.9  # ~1 for a pure trend
    assert out["alt"]["h"] < 0.2   # anti-persistent
    assert -0.5 < out["sin"]["h"] < 1.5


def test_hurst_rejects_bad_scales(spark):
    import pytest

    from from_superset_to_clickhouse_spark.operators.temporal import (
        hurst_rs,
    )

    df = spark.createDataFrame([("g", 1, 1.0)], "g string, o int, v double")
    with pytest.raises(ValueError, match="scales"):
        hurst_rs(df, "v", "o", "g", window_sizes=(8,))


# -- degenerate inputs, NULL-valued OHLC bars, the shared EMA fold ------

DEGENERATE = {
    "empty": [],
    "one_row": [(0, 1.0)],
    "two_rows": [(0, 1.0), (1, 2.0)],  # two hours of one daily bucket
    "constant": [(24 * d, 5.0) for d in range(40)],
    "all_null": [(0, None), (24, None)],
}

# operator -> (call, statistic columns that are NULL on a constant series)
DEGENERATE_OPS = {
    "acf": (lambda d, t: t.acf(d, "k", "ts", "v", max_lag=3), ("acf",)),
    "pacf": (lambda d, t: t.pacf(d, "k", "ts", "v"), ("pacf",)),
    "yule_walker_ar2": (
        lambda d, t: t.yule_walker_ar2(d, "k", "ts", "v"),
        ("r1", "r2", "phi1", "phi2", "sigma2_ratio"),
    ),
    "adf_test": (
        lambda d, t: t.adf_test(d, "k", "i", "v"), ("beta", "t_stat")
    ),
    "rolling_corr": (
        lambda d, t: t.rolling_corr(d, "ts", "v", "w", 3, ["k"]),
        ("roll_corr",),
    ),
    "control_chart": (
        lambda d, t: t.control_chart(d, "k", "ts", "v"), ("z",)
    ),
    "sax_symbols": (lambda d, t: t.sax_symbols(d, "k", "ts", "v", w=4), ()),
}


def _degenerate_frame(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            ("k", t0 + dt.timedelta(hours=h), i, v, float(i))
            for i, (h, v) in enumerate(rows)
        ],
        "k string, ts timestamp, i int, v double, w double",
    )


@pytest.mark.parametrize("op", list(DEGENERATE_OPS))
def test_series_statistics_on_degenerate_inputs(spark, op):
    """A series too short or too flat to have the statistic returns
    NULL for it — DuckDB's answer for a division by zero — instead of
    killing the query with an ANSI DIVIDE_BY_ZERO."""
    import math
    from concurrent.futures import ThreadPoolExecutor

    from from_superset_to_clickhouse_spark.operators import temporal

    call, stats = DEGENERATE_OPS[op]
    # independent tiny queries: run the inputs side by side
    with ThreadPoolExecutor(len(DEGENERATE)) as pool:
        outs = dict(zip(DEGENERATE, pool.map(
            lambda rows: call(_degenerate_frame(spark, rows), temporal)
            .collect(),
            DEGENERATE.values(),
        )))
    for case, out in outs.items():
        for r in out:
            for v in r:
                assert not isinstance(v, float) or math.isfinite(v), (case, r)
    assert outs["empty"] == []
    assert outs["constant"], op
    for r in outs["constant"]:
        assert all(r[c] is None for c in stats), r
    if op == "control_chart":  # one bucket has no sigma
        assert [r["z"] for r in outs["two_rows"]] == [None]
    if op == "sax_symbols":
        assert [(r["n"], r["sax"]) for r in outs["constant"]] == [
            (40, "cccc")
        ]
        assert [r["n"] for r in outs["one_row"]] == [1]


# one key, six daily bars of three ticks; NULL values: bar 2 opens
# NULL, bar 3 closes NULL, bar 4 is all NULL, bar 5 has a NULL middle
_NULL_TICKS = [
    (10.0, 12.5, 11.0), (None, 13.25, 12.0), (12.5, 9.75, None),
    (None, None, None), (11.0, None, 14.5), (14.0, 15.5, 13.0),
]

_A = ("k", "ts", "v", "tb")
# operator -> (call, expected rows as (day of bar, *output columns))
OHLC_NULL_OPS = {
    "garman_klass": (
        lambda d, t: t.garman_klass(d, *_A),
        [(4, 0.01085305, 0.104178)],
    ),
    "pivot_points": (
        lambda d, t: t.pivot_points(d, *_A),
        [(1, 11.166667, 12.333333, 9.833333, 13.666667, 8.666667),
         (2, 12.416667, 12.833333, 11.583333, 13.666667, 11.166667),
         (3, None, None, None, None, None),
         (4, None, None, None, None, None),
         (5, 13.333333, 15.666667, 12.166667, 16.833333, 9.833333),
         (6, 13.833333, 14.666667, 12.166667, 16.333333, 11.333333)],
    ),
    "heikin_ashi": (
        lambda d, t: t.heikin_ashi(d, *_A),
        [(1, 10.5, 12.5, 10.0, 10.875), (2, 10.5, 13.25, 10.5, None),
         (3, 10.5, 12.5, 9.75, None), (4, 10.5, 10.5, 10.5, None),
         (5, 10.6875, 14.5, 10.6875, 12.75),
         (6, 11.71875, 15.5, 11.71875, 13.875)],
    ),
    "chaikin_money_flow": (
        lambda d, t: t.chaikin_money_flow(d, *_A, period=2),
        [(1, None), (2, -0.6), (3, -0.5), (4, 0.0), (5, 0.5), (6, 0.0)],
    ),
    "vortex_indicator": (
        lambda d, t: t.vortex_indicator(d, *_A, period=2),
        [(1, None, None), (2, None, None), (3, 0.75, 0.8),
         (4, None, None), (5, None, None), (6, None, None)],
    ),
    "supertrend": (
        lambda d, t: t.supertrend(d, *_A, period=2, mult=2.0),
        [(1, None, None), (2, 17.375, "down"), (3, 7.875, "up"),
         (4, None, None), (5, None, None), (6, 8.25, "up")],
    ),
    "ultimate_oscillator": (
        lambda d, t: t.ultimate_oscillator(d, *_A, p1=1, p2=1, p3=1),
        [(1, None), (2, 44.444444), (3, None), (4, None), (5, None),
         (6, 0.0)],
    ),
    "ichimoku": (
        lambda d, t: t.ichimoku(d, *_A, p1=2, p2=3),
        [(1, None, None, None, None, None),
         (2, 11.625, None, None, None, 14.5),
         (3, 11.5, 11.5, None, None, 13.0),
         (4, 11.125, 11.5, None, None, None),
         (5, 12.75, 12.125, None, None, None),
         (6, 13.25, 13.25, 11.5, None, None)],
    ),
    "elder_ray": (
        lambda d, t: t.elder_ray(d, *_A, period=3),
        [(1, 11.0, 1.5, -1.0), (2, 11.5, 1.75, 0.5), (3, 11.5, 1.0, -1.75),
         (4, 11.5, None, None), (5, 13.0, 1.5, -2.0), (6, 13.0, 2.5, 0.0)],
    ),
    "parabolic_sar": (
        lambda d, t: t.parabolic_sar(d, *_A),
        [(1, None, None), (2, 10.0, "up"), (3, 13.25, "down"),
         (4, 13.25, "down"), (5, None, None), (6, 11.0, "up")],
    ),
    "keltner_channel": (
        lambda d, t: t.keltner_channel(d, *_A, period=2),
        [(1, None, None, None, None),
         (2, 11.791666, 16.541666, 7.041666, 2.375),
         (3, 11.541666, 16.541666, 6.541666, 2.5),
         (5, 12.0, 19.5, 4.5, 3.75),
         (6, 13.583333, 20.833333, 6.333333, 3.625)],
    ),
    "donchian_channel": (
        lambda d, t: t.donchian_channel(d, *_A, period=2),
        [(1, None, None, None, 0), (2, 13.25, 10.0, 11.625, 0),
         (3, 13.25, 9.75, 11.5, -1), (5, 14.5, 9.75, 12.125, 1),
         (6, 15.5, 11.0, 13.25, 0)],
    ),
}


def test_ohlc_indicators_on_null_values(spark):
    """The OHLC indicators' rows on NULL-valued ticks, pinned: a NULL
    first/last tick makes a NULL open/close, an all-NULL day is a bar
    of NULL prices (``ohlc_bars`` counts it), while ``keltner_channel``
    and ``donchian_channel`` grid and drop NULL values before
    bucketing (no bar 4). The fixtures have no NULL value."""
    import datetime as dt
    from concurrent.futures import ThreadPoolExecutor

    from from_superset_to_clickhouse_spark.operators import temporal

    df = spark.createDataFrame(
        [
            ("k", dt.datetime(2024, 1, 1 + d, 1 + 8 * i), 3 * d + i, v)
            for d, ticks in enumerate(_NULL_TICKS)
            for i, v in enumerate(ticks)
        ],
        "k string, ts timestamp, tb int, v double",
    )

    def rows(call):
        out = sorted(tuple(r) for r in call(df, temporal).collect())
        return [
            tuple(v.day if isinstance(v, dt.datetime) else v for v in r[1:])
            for r in out
        ]

    with ThreadPoolExecutor(4) as pool:
        got = dict(zip(OHLC_NULL_OPS, pool.map(
            rows, [call for call, _ in OHLC_NULL_OPS.values()]
        )))
    for op, (_, want) in OHLC_NULL_OPS.items():
        assert got[op] == want, op


def test_ema_fold_reproduces_macd_trix_elder_ray(spark):
    """The shared EMA fold, applied to each prefix of a 30-point series
    (test_macd_matches_pandas_ewm_recursion's shape), gives macd's,
    trix's and elder_ray's EMAs bit for bit — and the textbook
    recursion to 1e-9."""
    import datetime as dt

    from from_superset_to_clickhouse_spark.functions.scalar import let_bind
    from from_superset_to_clickhouse_spark.operators import temporal as tmp

    vals = [float(50 + ((i * 17) % 23) - 11) for i in range(30)]

    def fold(xs, alpha):
        pre = spark.createDataFrame(
            [(i, xs[: i + 1]) for i in range(len(xs))],
            "i int, l array<double>",
        )
        e = let_bind(F.col("l"), tmp._ema_fold(alpha))
        return [r[0] for r in pre.orderBy("i").select(e).collect()]

    def rounded(*cols):
        df = spark.createDataFrame(
            list(zip(range(len(cols[0])), *cols)),
            ["i"] + [f"c{j}" for j in range(len(cols))],
        )
        return [
            tuple(r) for r in df.orderBy("i").select(
                "i", *(F.round(f"c{j}", 6) for j in range(len(cols)))
            ).collect()
        ]

    series = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], "g string, o int, v double"
    )
    ef, es = fold(vals, 2.0 / 13.0), fold(vals, 2.0 / 27.0)
    m = [a - b for a, b in zip(ef, es)]
    sig = fold(m, 2.0 / 10.0)
    got = tmp.macd(series, "g", "o", "v").orderBy("o")
    assert [tuple(r) for r in got.select("o", "macd", "signal").collect()] \
        == rounded(m, sig)

    e1 = fold(vals, 2.0 / 6.0)
    e3 = fold(fold(e1, 2.0 / 6.0), 2.0 / 6.0)
    got = tmp.trix(series, "g", "o", "v", period=5).orderBy("o")
    assert [tuple(r) for r in got.select("o", "ema3").collect()] \
        == rounded(e3)

    bars = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1) + dt.timedelta(days=i), i, v)
         for i, v in enumerate(vals)],
        "k string, ts timestamp, tb int, v double",
    )
    got = tmp.elder_ray(bars, "k", "ts", "v", "tb", period=7)
    assert [r["ema"] for r in got.orderBy("bar_start").collect()] \
        == [r[1] for r in rounded(fold(vals, 2.0 / 8.0))]

    ref = [vals[0]]
    for x in vals[1:]:
        ref.append(0.25 * x + 0.75 * ref[-1])
    assert max(abs(a - b) for a, b in zip(fold(vals, 0.25), ref)) < 1e-9
