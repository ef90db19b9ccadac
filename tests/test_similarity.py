"""Similarity search: brute-force correctness vs numpy, LSH recall."""

import math

import pytest
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.operators import similarity as simi
from from_superset_to_clickhouse_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_numpy(spark):
    df = _vecs(spark)
    got = simi.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(map(tuple, got.collect()))
    # Neighbor order for query 0: vec 1 (cos≈0.9939), then 2/3 (cos=0).
    assert [r[1] for r in rows] == [1, 2]
    assert abs(rows[0][2] - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-4


def test_brute_force_excludes_self(spark):
    df = _vecs(spark)
    got = simi.brute_force_topk(df, df, k=3)
    assert got.filter(F.col("q_id") == F.col("n_id")).count() == 0


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r["q_id"], r["n_id"])
        for r in simi.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in simi.lsh_topk(emb, queries, k=5).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"lsh_topk default recall {recall}"


def test_ivf_topk_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r["q_id"], r["n_id"])
        for r in simi.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in simi.ivf_topk(emb, queries, k=5).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.7, f"ivf_topk default recall {recall}"


def test_embedding_dedup_finds_planted_copies(spark):
    emb = load_table(spark, SF, "embeddings")
    copies = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(copies)
    found = {
        (r["id_a"], r["id_b"])
        for r in simi.embedding_dedup_pairs(both, threshold=0.95).collect()
    }
    assert found == {(i, i + 10000) for i in range(30)}


def test_quantize_embeddings_roundtrip_and_neighbor_recall(spark):
    """int8 quantization fitness: codes bounded to [-127, 127], dequant
    error within one quantization step per element, and top-5 neighbor
    sets over dequantized vectors recall >= 0.95 of the full-precision
    truth — the property that makes int8 storage usable for search."""
    emb = load_table(spark, SF, "embeddings")
    q = simi.quantize_embeddings(emb)
    dq = q.select(
        "vec_id",
        F.transform(
            "qvec", lambda c: (c * F.col("scale") / F.lit(127.0)).cast("float")
        ).alias("embedding"),
    )
    # per-element: |dequant - original| <= scale/127 (half step + float eps)
    joined = emb.select("vec_id", F.col("embedding").alias("orig")).join(
        dq.select("vec_id", F.col("embedding").alias("deq"), ), "vec_id"
    ).join(q.select("vec_id", "scale", "qvec"), "vec_id")
    bad_bounds = joined.filter(
        F.exists(F.col("qvec"), lambda c: (c > 127) | (c < -127))
    ).count()
    assert bad_bounds == 0
    worst = joined.select(
        F.array_max(
            F.zip_with("orig", "deq", lambda a, b: F.abs(a - b))
        ).alias("err"),
        "scale",
    ).select(F.max(F.col("err") / (F.col("scale") / 127.0)).alias("m")).first()["m"]
    assert worst <= 0.5001, worst

    queries = emb.filter(F.col("vec_id") < 100)
    truth = {
        (r["q_id"], r["n_id"])
        for r in simi.brute_force_topk(emb, queries, k=5).collect()
    }
    dq_queries = dq.filter(F.col("vec_id") < 100)
    approx = {
        (r["q_id"], r["n_id"])
        for r in simi.brute_force_topk(dq, dq_queries, k=5).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.95, f"int8 neighbor recall {recall}"


def test_centroid_persistence_reproduces_ivf_results(spark, tmp_path):
    """Train-once/reuse: centroids round-tripped through parquet give
    IDENTICAL ivf_topk results to the in-memory ones — the coarse
    quantizer ships across jobs without re-sharding the corpus."""
    emb = load_table(spark, SF, "embeddings")
    cents = simi.train_centroids(emb, ncells=8)
    path = str(tmp_path / "centroids")
    simi.save_centroids(spark, cents, path)
    loaded = simi.load_centroids(spark, path)
    assert len(loaded) == len(cents)
    queries = emb.filter(F.col("vec_id") < 50)
    a = {
        tuple(r)
        for r in simi.ivf_topk(emb, queries, k=5, centroids=cents).collect()
    }
    b = {
        tuple(r)
        for r in simi.ivf_topk(emb, queries, k=5, centroids=loaded).collect()
    }
    assert a == b


def test_lsh_indexed_parquet_roundtrip_equals_one_shot(spark, tmp_path):
    """Build-once/query-many: an SRP band index round-tripped through
    band-partitioned parquet answers exactly like the fused lsh_topk —
    a physical index layout must never change results. (This is the
    operating point where LSH beats exact at scale: one-shot banding
    touches every corpus vector, so only a persisted index amortizes.)"""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)

    one_shot = sorted(
        map(tuple, simi.lsh_topk(emb, queries, k=5).collect())
    )
    path = str(tmp_path / "lsh_index")
    simi.lsh_index(emb).write.partitionBy("band").parquet(path)
    idx = spark.read.parquet(path)
    indexed = sorted(
        map(tuple, simi.lsh_topk_indexed(idx, emb, queries, k=5).collect())
    )
    assert indexed == one_shot
    assert len(indexed) > 0


def test_ivf_indexed_parquet_roundtrip_equals_fused(spark, tmp_path):
    """Assign-once/query-many: an IVF cell index round-tripped through
    cell-partitioned parquet + the same persisted centroids answers
    exactly like the fused ivf_topk — physical index layout must never
    change results."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cents = simi.train_centroids(emb, ncells=8)

    fused = sorted(
        map(tuple, simi.ivf_topk(emb, queries, k=5, ncells=8, nprobe=4,
                                 centroids=cents).collect())
    )
    path = str(tmp_path / "ivf_index")
    simi.ivf_index(emb, cents).write.partitionBy("cell").parquet(path)
    idx = spark.read.parquet(path)
    indexed = sorted(
        map(tuple, simi.ivf_topk_indexed(idx, queries, cents, k=5,
                                         nprobe=4).collect())
    )
    assert indexed == fused
    assert len(indexed) > 0


def test_ivf_pruned_reads_only_probed_cells_and_matches(spark, tmp_path):
    """Selective-batch IVF: the probed-cell isin becomes a scan-level
    PartitionFilter (unprobed cell directories never read) and results
    equal the fused form exactly — each query only joins its own probed
    cells, so restricting the read to the probe union changes nothing."""
    import contextlib
    import io

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = simi.train_centroids(emb, ncells=8)
    path = str(tmp_path / "ivf_index")
    simi.ivf_index(emb, cents).repartition("cell").write.partitionBy(
        "cell"
    ).parquet(path)

    pruned = simi.ivf_topk_pruned(spark, path, queries, cents, k=5, nprobe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan

    fused = sorted(
        map(tuple, simi.ivf_topk(emb, queries, k=5, ncells=8, nprobe=2,
                                 centroids=cents).collect())
    )
    assert sorted(map(tuple, pruned.collect())) == fused
    assert len(fused) > 0


def test_semantic_dedup_planted_clusters(spark):
    # Two orthogonal prototypes (the two lowest ids = the seeds). 10/11
    # are near-dups of prototype 0's direction; 20 matches prototype 1;
    # 30 is a near-dup of 10 but would only be caught if it lands in
    # the same cluster (it does). 40 is close to NOTHING above the
    # threshold. The same rows with every id shifted by 1000 must give
    # the same answer: seeds are the lowest ids, not ids < n_seeds.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [0.99, 0.1, 0.0, 0.0]),
        (11, [0.99, 0.1, 0.001, 0.0]),   # ~identical to 10 -> dropped
        (20, [0.05, 0.98, 0.0, 0.0]),
        (40, [0.5, 0.5, 0.7, 0.0]),      # same cluster, below threshold
    ]
    for o in (0, 1000):
        df = spark.createDataFrame(
            [(i + o, v) for i, v in rows], "vec_id long, embedding array<float>"
        )
        got = {
            r["vec_id"] - o: (r["cluster"] - o, r["keep"])
            for r in simi.semantic_dedup(df, threshold=0.95, n_seeds=2).collect()
        }
        assert len(got) == len(rows), o
        assert got[0] == (0, 1)
        assert got[1] == (1, 1)
        assert got[10][0] == 0 and got[10][1] == 0  # dup of seed 0 (cos>0.95)
        assert got[11] == (0, 0)                    # dup of 0/10, higher id
        assert got[20][0] == 1                      # clustered to seed 1
        assert got[40][1] == 1                      # nothing within threshold
        # exactly one survivor per near-identical group, lowest id wins
        assert got[0][1] == 1 and got[10][1] == 0 and got[11][1] == 0


def test_kmeans_planted_clusters_and_empty_cell(spark):
    """Lloyd's k-means recovers three well-separated planted clusters
    after one update, keeps an empty cell's previous centroid, and is
    repartition-stable (no order dependence in assignment or means)."""
    # seeds = ids 0..2; id 2's seed is isolated from all data points,
    # so after the first assignment its cell empties and the centroid
    # must survive unchanged.
    rows = [
        (0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [100.0, 100.0]),
        (3, [11.0, 1.0]), (4, [9.0, -1.0]),
        (5, [1.0, 11.0]), (6, [-1.0, 9.0]),
    ]
    rows[2] = (2, [-50.0, -50.0])  # seed 2 sits far from every point
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    asg, cents = simi.kmeans(df, k=3, iters=2)
    got = {r["vec_id"]: r["cell"] for r in asg.collect()}
    assert got[0] == got[3] == got[4] == 0
    assert got[1] == got[5] == got[6] == 1
    assert got[2] == 2  # its own far-away cluster
    # empty-cell rule: no point ever assigned to cell 2 except id 2
    # itself, whose mean is the point — centroid 2 equals [-50, -50]
    assert cents[2] == [-50.0, -50.0]
    # repartition stability: same assignment under a different layout
    asg2, _ = simi.kmeans(df.repartition(7), k=3, iters=2)
    assert {r["vec_id"]: r["cell"] for r in asg2.collect()} == got


def test_kmeans_sparse_and_one_based_ids(spark):
    """ADVICE r6 low: init must mean 'first k vectors by id RANK', not
    'id value < k' — 1-based or sparse ids previously collected fewer
    than k seeds and crashed. Also: fewer than k vectors is a clear
    ValueError, not an IndexError."""
    rows = [
        (101, [10.0, 0.0]), (205, [0.0, 10.0]),
        (309, [11.0, 1.0]), (410, [1.0, 11.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    asg, cents = simi.kmeans(df, k=2, iters=2)
    got = {r["vec_id"]: r["cell"] for r in asg.collect()}
    assert got[101] == got[309] == 0
    assert got[205] == got[410] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least k=5"):
        simi.kmeans(df, k=5, iters=1)


def test_rrf_fuse_known_ranks_and_partial_overlap(spark):
    """RRF over two hand-built ranked lists: overlapping candidates sum
    both reciprocal contributions, one-list candidates score with a
    single term, ties break by ascending id, and k truncates. Scores
    checked exactly (1/(c+rank) sums are closed-form)."""
    sparse = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
    )
    dense = spark.createDataFrame(
        [(20, 1), (40, 2)], "doc_id long, rank int"
    )
    rows = simi.rrf_fuse([sparse, dense], k=3, c=60).collect()
    got = [(r["doc_id"], r["rrf_score"], r["rank"]) for r in rows]
    # doc 20: 1/62 + 1/61, doc 10: 1/61, doc 40: 1/62 — doc 30 (1/63)
    # is cut by k=3.
    assert got == [
        (20, round(1 / 62 + 1 / 61, 6), 1),
        (10, round(1 / 61, 6), 2),
        (40, round(1 / 62, 6), 3),
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        simi.rrf_fuse([], k=3)


def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """Incremental index maintenance: building the IVF index on the
    first 300 vectors then appending the remaining batch yields
    EXACTLY the index a full rebuild produces — identical (cell, id)
    assignment (frozen quantizer is per-row deterministic) and
    identical query results through the partition-pruned read path.
    This is the ANN twin of minhash_incremental's O(batch) story."""
    emb = load_table(spark, SF, "embeddings")
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    cents = simi.train_centroids(old, ncells=8)

    inc_path = str(tmp_path / "ivf_inc")
    simi.ivf_index(old, cents).repartition("cell").write.partitionBy(
        "cell"
    ).parquet(inc_path)
    simi.ivf_index_append(inc_path, new, cents)

    full_path = str(tmp_path / "ivf_full")
    simi.ivf_index(emb, cents).repartition("cell").write.partitionBy(
        "cell"
    ).parquet(full_path)

    inc_rows = sorted(
        (r["cell"], r["n_id"])
        for r in spark.read.parquet(inc_path).select("cell", "n_id").collect()
    )
    full_rows = sorted(
        (r["cell"], r["n_id"])
        for r in spark.read.parquet(full_path).select("cell", "n_id").collect()
    )
    assert inc_rows == full_rows and len(inc_rows) == emb.count()

    queries = emb.filter(F.col("vec_id") < 5)
    got_inc = sorted(map(tuple, simi.ivf_topk_pruned(
        spark, inc_path, queries, cents, k=5, nprobe=3
    ).collect()))
    got_full = sorted(map(tuple, simi.ivf_topk_pruned(
        spark, full_path, queries, cents, k=5, nprobe=3
    ).collect()))
    assert got_inc == got_full and len(got_inc) > 0


def test_pq_train_encode_adc_matches_numpy_replay(spark):
    """Product quantization end-to-end vs an independent numpy replay:
    identical per-subspace Lloyd's training (deterministic init,
    rounded-argmin with first-min ties), identical codes for every
    vector, and identical ADC top-10 — plus the compression contract
    (m ints per vector) and the ADC-vs-exact sanity that the true
    query vector itself ranks first."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    m, k, d, iters = 4, 8, 16, 2
    books = simi.pq_train(emb, m=m, k=k, iters=iters)
    assert len(books) == m and len(books[0]) == k and len(books[0][0]) == d

    rows = emb.orderBy("vec_id").collect()
    v = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])

    def assign(bk):
        codes = np.zeros((len(v), m), dtype=int)
        for s in range(m):
            cb = np.array(bk[s])
            dist = np.round(
                ((v[:, s * d:(s + 1) * d][:, None, :] - cb[None]) ** 2)
                .sum(-1), 6,
            )
            codes[:, s] = dist.argmin(1)  # first-min ties, like Spark
        return codes

    bk = [[list(v[c][s * d:(s + 1) * d]) for c in range(k)] for s in range(m)]
    for _ in range(iters):
        codes = assign(bk)
        for s in range(m):
            for c in range(k):
                mem = v[codes[:, s] == c][:, s * d:(s + 1) * d]
                if len(mem):
                    bk[s][c] = list(mem.mean(0))
    for s in range(m):
        for c in range(k):
            assert np.allclose(books[s][c], bk[s][c], atol=1e-9)

    enc = {
        r["vec_id"]: tuple(r[f"code_{s}"] for s in range(m))
        for r in simi.pq_encode(emb, books).collect()
    }
    codes = assign(bk)
    for i, vid in enumerate(ids):
        assert enc[int(vid)] == tuple(codes[i])

    q = [float(x) for x in v[list(ids).index(42)]]
    got = [
        (r["vec_id"], r["adc"])
        for r in simi.pq_adc_topk(emb, books, q, topk=10).collect()
    ]
    qv = np.array(q)
    adc = np.zeros(len(v))
    for s in range(m):
        cb = np.array(bk[s])
        lut = np.round(((qv[s * d:(s + 1) * d][None] - cb) ** 2).sum(-1), 6)
        adc += lut[codes[:, s]]
    order = np.lexsort((ids, np.round(adc, 4)))[:10]
    want = [(int(ids[i]), round(float(adc[i]), 4)) for i in order]
    assert got == want
    # the query's own vector quantizes closest to the query LUT
    assert got[0][0] == 42


def test_ivfpq_two_level_index_and_search(spark, tmp_path):
    """IVF-PQ: residuals beat raw-vector PQ at equal code budget
    (quantization error strictly smaller — the reason the two-level
    design exists), the persisted cell-partitioned index serves
    identical results to the fused path with only probed cell
    directories read, and the query's own vector ranks first."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    cents, books = simi.ivfpq_train(
        emb, ncells=4, coarse_iters=1, m=4, k=8, pq_iters=1
    )
    assert len(cents) == 4 and len(books) == 4 and len(books[0]) == 8

    rows = emb.orderBy("vec_id").collect()
    v = np.array([r["embedding"] for r in rows], dtype=np.float64)

    # reconstruction error: residual-PQ vs raw-PQ at the same m, k
    raw_books = simi.pq_train(emb, m=4, k=8, iters=1)
    idx_rows = simi.ivfpq_index(emb, cents, books).collect()
    cent_m = np.array(cents)
    d = 16
    err_ivfpq = 0.0
    for r in idx_rows:
        rec = cent_m[r["cell"]].copy()
        for s in range(4):
            rec[s * d:(s + 1) * d] += np.array(books[s][r[f"code_{s}"]])
        err_ivfpq += float(((v[r["vec_id"]] - rec) ** 2).sum())
    raw_rows = simi.pq_encode(emb, raw_books).collect()
    err_raw = 0.0
    for r in raw_rows:
        rec = np.concatenate(
            [np.array(raw_books[s][r[f"code_{s}"]]) for s in range(4)]
        )
        err_raw += float(((v[r["vec_id"]] - rec) ** 2).sum())
    assert err_ivfpq < err_raw

    q = [float(x) for x in v[42]]
    fused = [
        tuple(r)
        for r in simi.ivfpq_topk(emb, cents, books, q, nprobe=2, topk=10)
        .collect()
    ]
    assert fused[0][0] == 42

    # persisted index: same rows, pruned read
    path = str(tmp_path / "ivfpq")
    simi.ivfpq_index(emb, cents, books).write.partitionBy("cell").parquet(
        path
    )
    idx = spark.read.parquet(path)
    # re-run scoring over the persisted index by reusing the fused
    # search's LUT path: filter to probed cells must prune partitions
    dists = sorted(
        (
            round(sum((a - b) ** 2 for a, b in zip(q, c)), 6),
            cell,
        )
        for cell, c in enumerate(cents)
    )
    probes = [cell for _, cell in dists[:2]]
    plan = idx.filter(F.col("cell").isin(probes))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    kept = {
        (r["vec_id"], r["cell"], r["code_0"], r["code_1"], r["code_2"],
         r["code_3"])
        for r in idx.filter(F.col("cell").isin(probes)).collect()
    }
    direct = {
        (r["vec_id"], r["cell"], r["code_0"], r["code_1"], r["code_2"],
         r["code_3"])
        for r in simi.ivfpq_index(emb, cents, books).collect()
        if r["cell"] in probes
    }
    assert kept == direct and len(kept) > 0


def test_dbscan_textbook_shapes(spark):
    from from_superset_to_clickhouse_spark.operators.similarity import (
        dbscan_grid,
    )

    # blob A: 3x3 lattice spacing 0.5 around (0,0); blob B: same
    # around (100,100); one border point hanging 0.9 off blob A's
    # corner; two isolated noise points
    pts = []
    pid = 0
    for bx, by in ((0.0, 0.0), (100.0, 100.0)):
        for i in range(3):
            for j in range(3):
                pts.append((pid, bx + i * 0.5, by + j * 0.5))
                pid += 1
    border_id = pid
    pts.append((border_id, 1.0 + 0.9, 1.0))  # within eps=1 of (1,1) corner only
    pts.append((50, 500.0, 500.0))
    pts.append((51, 600.0, 600.0))
    df = spark.createDataFrame(pts, "id long, x double, y double")
    out = {r.id: r for r in dbscan_grid(
        df, "id", "x", "y", eps=1.0, min_pts=4).collect()}
    # two clusters labeled by their min ids (0 and 9)
    a_ids = set(range(9))
    b_ids = set(range(9, 18))
    assert all(out[i].cluster == 0 and out[i].is_core for i in a_ids)
    assert all(out[i].cluster == 9 and out[i].is_core for i in b_ids)
    # the hanger-on is a border point of cluster A, not core
    assert out[border_id].cluster == 0 and not out[border_id].is_core
    # noise points are absent entirely
    assert 50 not in out and 51 not in out
    # grid independence: same result with a different eps-grid origin
    # (shift all coordinates by a non-multiple of eps)
    df2 = df.selectExpr("id", "x + 0.37 AS x", "y + 0.37 AS y")
    out2 = {r.id: (r.cluster, r.is_core) for r in dbscan_grid(
        df2, "id", "x", "y", eps=1.0, min_pts=4).collect()}
    assert out2 == {i: (r.cluster, r.is_core) for i, r in out.items()}


def test_knn_classify_eval_separable(spark):
    from from_superset_to_clickhouse_spark.operators.similarity import (
        knn_classify_eval,
    )

    # two tight, well-separated clusters -> 100% LOOCV accuracy
    rows = []
    for i in range(6):
        rows.append((i, [10.0 + i * 0.01, 1.0, 0.0], 0))
    for i in range(6):
        rows.append((10 + i, [0.0, 1.0, 10.0 + i * 0.01], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.label: r for r in knn_classify_eval(df, k=3).collect()}
    assert got[0].accuracy == 1.0 and got[1].accuracy == 1.0
    assert got[0].n_eval == 6 and got[1].n_correct == 6


def test_knn_classify_eval_tiebreak(spark):
    from from_superset_to_clickhouse_spark.operators.similarity import (
        knn_classify_eval,
    )

    # query 0's 2 nearest neighbors have labels 2 and 1 (one vote
    # each) -> tie breaks to the SMALLER label 1 -> incorrect for 0
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 2),
        (2, [0.98, 0.2], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.label: r for r in knn_classify_eval(df, k=2).collect()}
    assert got[0].n_correct == 0  # predicted 1, truth 0


def test_pca_top_component_planted_direction(spark):
    import random

    from from_superset_to_clickhouse_spark.operators.similarity import (
        pca_top_component,
    )

    # vectors = strong variance along dim 0, small noise elsewhere
    rng = random.Random(5)
    rows = []
    for i in range(200):
        v = [rng.uniform(-0.05, 0.05) for _ in range(8)]
        v[0] = rng.uniform(-2.0, 2.0)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pca_top_component(df, iters=8).collect()
    got = {r.dim: r for r in out}
    assert len(got) == 8
    # loading concentrates on dim 0; sign is arbitrary
    assert abs(got[0].loading) > 0.99
    for j in range(1, 8):
        assert abs(got[j].loading) < 0.1
    assert got[0].explained > 0.95
    assert got[0].lambda1 > 0.5


def test_pq_adc_encoded_fast_path_identical(spark):
    """``pq_adc_topk(..., encoded=True)`` over a pre-built code table
    (the encode-once / probe-many production shape the bench's
    ann_scale PQ tier uses) must return exactly the inline-encode
    result — the code path only skips re-encoding, never re-ranks."""
    emb = load_table(spark, SF, "embeddings")
    books = simi.pq_train(emb, m=4, k=8, iters=1)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    inline = [tuple(r) for r in simi.pq_adc_topk(emb, books, q, topk=10).collect()]
    codes = simi.pq_encode(emb, books).drop("embedding")
    pre = [
        tuple(r)
        for r in simi.pq_adc_topk(codes, books, q, topk=10, encoded=True).collect()
    ]
    assert pre == inline


def test_ivfpq_prebuilt_index_and_reused_centroids_identical(spark):
    """``ivfpq_topk(..., index=prebuilt)`` must serve exactly the fused
    search's rows, and ``ivfpq_train(centroids=...)`` with the same
    coarse centroids must reproduce the same codebooks (the
    reuse-the-IVF-deployment's-centroids path)."""
    emb = load_table(spark, SF, "embeddings")
    cents, books = simi.ivfpq_train(
        emb, ncells=4, coarse_iters=1, m=4, k=8, pq_iters=1
    )
    cents2, books2 = simi.ivfpq_train(
        emb, ncells=4, m=4, k=8, pq_iters=1, centroids=cents
    )
    assert cents2 == cents and books2 == books
    q = [float(x) for x in emb.filter(F.col("vec_id") == 42).first()["embedding"]]
    fused = [
        tuple(r)
        for r in simi.ivfpq_topk(emb, cents, books, q, nprobe=2, topk=10).collect()
    ]
    idx = simi.ivfpq_index(emb, cents, books)
    pre = [
        tuple(r)
        for r in simi.ivfpq_topk(
            emb, cents, books, q, nprobe=2, topk=10, index=idx
        ).collect()
    ]
    assert pre == fused


def test_mmd_detects_planted_shift(spark):
    """MMD² ≈ 0 for two samples of the same distribution; strictly
    larger when one group is shifted; kernel self-means stay ≤ 1."""
    import random

    from from_superset_to_clickhouse_spark.operators.similarity import (
        mmd_rbf,
    )

    rng = random.Random(2)

    def draw(n, shift):
        return [
            ([rng.gauss(shift, 1.0)] + [rng.gauss(0, 1.0) for _ in range(7)],)
            for _ in range(n)
        ]

    schema = "embedding array<float>"
    a = spark.createDataFrame(draw(120, 0.0), schema)
    b_same = spark.createDataFrame(draw(120, 0.0), schema)
    b_shift = spark.createDataFrame(draw(120, 1.5), schema)
    null = mmd_rbf(a, b_same, sigma2=4.0).first()
    drift = mmd_rbf(a, b_shift, sigma2=4.0).first()
    assert null["n_a"] == null["n_b"] == 120
    for r in (null, drift):
        assert 0.0 < r["kxy"] <= 1.0
        assert r["kxx"] <= 1.0 and r["kyy"] <= 1.0
    assert abs(null["mmd2"]) < 0.02
    assert drift["mmd2"] > null["mmd2"] + 0.02


def test_batch_adc_paths_equal_per_query_forms(spark):
    """pq_adc_topk_batch / ivfpq_topk_batch / exact_rerank_batch must
    return exactly the per-query forms' neighbors and scores — the
    batch shape changes the PLAN (one broadcast-LUT join instead of
    |Q| unioned scans), never the answer."""
    emb = load_table(spark, SF, "embeddings")
    qids = [7, 42, 99]
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    books = simi.pq_train(emb, m=4, k=8, iters=1)
    codes = simi.pq_encode(emb, books).drop("embedding")
    batch = {
        (r["q_id"], r["rank"]): (r["n_id"], r["adc"])
        for r in simi.pq_adc_topk_batch(codes, books, qvecs, topk=7).collect()
    }
    for qid in qids:
        per = simi.pq_adc_topk(
            codes, books, qvecs[qid], topk=7, encoded=True
        ).collect()
        for rk, row in enumerate(per, start=1):
            assert batch[(qid, rk)] == (row["vec_id"], row["adc"]), (qid, rk)

    cents, rbooks = simi.ivfpq_train(
        emb, ncells=4, coarse_iters=1, m=4, k=8, pq_iters=1
    )
    idx = simi.ivfpq_index(emb, cents, rbooks)
    ibatch = {
        (r["q_id"], r["rank"]): (r["n_id"], r["adc"])
        for r in simi.ivfpq_topk_batch(
            idx, cents, rbooks, qvecs, nprobe=2, topk=7
        ).collect()
    }
    for qid in qids:
        per = simi.ivfpq_topk(
            emb, cents, rbooks, qvecs[qid], nprobe=2, topk=7, index=idx
        ).collect()
        for rk, row in enumerate(per, start=1):
            assert ibatch[(qid, rk)] == (row["vec_id"], row["adc"]), (qid, rk)

    cand = simi.pq_adc_topk_batch(codes, books, qvecs, topk=20)
    rbatch = {
        (r["q_id"], r["rank"]): (r["n_id"], r["dist"])
        for r in simi.exact_rerank_batch(emb, cand, qvecs, topk=5).collect()
    }
    for qid in qids:
        cand_q = simi.pq_adc_topk(
            codes, books, qvecs[qid], topk=20, encoded=True
        ).select(F.col("vec_id"))
        per = simi.exact_rerank(emb, cand_q, qvecs[qid], topk=5).collect()
        for rk, row in enumerate(per, start=1):
            assert rbatch[(qid, rk)] == (row["vec_id"], row["dist"]), (qid, rk)

    # ADVICE r9: duplicated candidate rows must not duplicate output
    # rows or burn topk slots — per-query and batch forms both dedup.
    dup = cand_q.union(cand_q).union(cand_q.limit(3))
    per_dup = simi.exact_rerank(emb, dup, qvecs[qid], topk=5).collect()
    assert per_dup == per
    dup_b = cand.union(cand)
    rdup = {
        (r["q_id"], r["rank"]): (r["n_id"], r["dist"])
        for r in simi.exact_rerank_batch(emb, dup_b, qvecs, topk=5).collect()
    }
    assert rdup == rbatch


def test_batch_adc_plan_scans_codes_once_via_broadcast(spark):
    """The batch LUT join must plan as ONE pass over the code table
    with the LUT side broadcast (BroadcastNestedLoopJoin for the flat
    cross, BroadcastHashJoin on cell for IVF-PQ) — never a shuffle of
    the codes and never |Q| unioned scans."""
    emb = load_table(spark, SF, "embeddings")
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    books = simi.pq_train(emb, m=4, k=8, iters=1)
    codes = simi.pq_encode(emb, books).drop("embedding")
    plan = (
        simi.pq_adc_topk_batch(codes, books, qvecs, topk=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Union") == 0
    cents, rbooks = simi.ivfpq_train(
        emb, ncells=4, coarse_iters=1, m=4, k=8, pq_iters=1
    )
    idx = simi.ivfpq_index(emb, cents, rbooks)
    iplan = (
        simi.ivfpq_topk_batch(idx, cents, rbooks, qvecs, nprobe=2, topk=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in iplan
    assert iplan.count("Union") == 0


def test_ivfpq_batch_prunes_persisted_cells_and_matches(spark, tmp_path):
    """Over a cell-partitioned persisted IVF-PQ index, the batch
    search's probe-union filter must appear as a scan-level
    PartitionFilter (unprobed cell directories never read) and results
    must equal the in-memory batch exactly."""
    emb = load_table(spark, SF, "embeddings")
    cents, books = simi.ivfpq_train(
        emb, ncells=8, coarse_iters=1, m=4, k=8, pq_iters=1
    )
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 2).collect()
    }
    path = str(tmp_path / "ivfpq_part")
    simi.ivfpq_index(emb, cents, books).write.partitionBy("cell").parquet(
        path
    )
    disk = spark.read.parquet(path)
    got_disk = simi.ivfpq_topk_batch(
        disk, cents, books, qvecs, nprobe=2, topk=5
    )
    plan = got_disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    mem = sorted(
        map(tuple, simi.ivfpq_topk_batch(
            simi.ivfpq_index(emb, cents, books), cents, books, qvecs,
            nprobe=2, topk=5,
        ).collect())
    )
    assert sorted(map(tuple, got_disk.collect())) == mem


def test_semdedup_cells_drops_planted_copy(spark):
    """A scaled copy (cosine 1) in the same cell is dropped; the
    lower-id original and an orthogonal-ish vector survive."""
    from from_superset_to_clickhouse_spark.operators.similarity import (
        semdedup_cells,
    )

    rows = [
        (1, [1.0, 0.2, 0.1], 0),
        (2, [1.25, 0.25, 0.125], 0),   # 1.25x copy of id 1 -> drop
        (3, [0.1, 1.0, -0.5], 0),      # same cell, far away -> keep
        (4, [1.0, 0.2, 0.1], 1),       # DIFFERENT cell: never compared
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    r = {row["vec_id"]: row["keep"]
         for row in semdedup_cells(df, threshold=0.93).collect()}
    assert r == {1: 1, 2: 0, 3: 1, 4: 1}


def test_assign_arrow_matches_expression(spark):
    """The Arrow matmul fast paths are contract twins of the expression
    forms: identical cell for every fixture vector (kmeans_assign) and
    identical m codes (pq_encode), forced down BOTH paths explicitly.
    This is the guard that lets the large-k×dim auto cut stay safe —
    the sf0.01 oracle twins exercise the expression side; this pins the
    Arrow side to it on the same real vectors."""
    emb = load_table(spark, SF, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(7).collect()
    ]
    expr = {
        r["vec_id"]: r["cell"]
        for r in simi.kmeans_assign(emb, cents, arrow=False).collect()
    }
    arr = {
        r["vec_id"]: r["cell"]
        for r in simi.kmeans_assign(emb, cents, arrow=True).collect()
    }
    assert arr == expr

    books = simi.pq_train(emb, m=4, k=8, iters=1)
    cols = [f"code_{s}" for s in range(4)]
    e = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in simi.pq_encode(emb, books, arrow=False).collect()
    }
    a = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in simi.pq_encode(emb, books, arrow=True).collect()
    }
    assert a == e


def test_assign_arrow_auto_threshold_plan_shapes(spark):
    """Auto mode: small k×dim stays whole-stage codegen (no Python
    worker), large k×dim takes the ArrowEvalPython path."""
    emb = load_table(spark, SF, "embeddings")
    small = [[float(i == j) for j in range(64)] for i in range(3)]
    plan_small = (
        simi.kmeans_assign(emb, small)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan_small
    big = [
        [float((i * 17 + j) % 5) for j in range(64)] for i in range(16)
    ]
    plan_big = (
        simi.kmeans_assign(emb, big)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan_big


def test_ivfpq_index_arrow_matches_expression(spark):
    """The fused one-pass IVF-PQ Arrow encoder is a contract twin of
    the residual→encode expression composition: identical (cell,
    code_0..code_{m-1}) for every fixture vector, both paths forced."""
    emb = load_table(spark, SF, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    _, books = simi.ivfpq_train(emb, m=4, k=8, pq_iters=1, centroids=cents)
    cols = ["cell"] + [f"code_{s}" for s in range(4)]
    e = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in simi.ivfpq_index(emb, cents, books, arrow=False).collect()
    }
    a = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in simi.ivfpq_index(emb, cents, books, arrow=True).collect()
    }
    assert a == e


def test_residuals_fused_arrow_matches_expression(spark):
    """_residuals takes the fused Arrow path once ncells×dim crosses
    the threshold (16×64 here) — its (cell, residual) must equal the
    expression composition (small-path kmeans_assign + literal-indexed
    zip_with subtract) element for element, bit-exact."""
    emb = load_table(spark, SF, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(16).collect()
    ]
    assert 16 * 64 >= simi._ARROW_ASSIGN_MIN_OPS
    fused = {
        r["vec_id"]: (r["cell"], tuple(r["residual"]))
        for r in simi._residuals(emb, cents).collect()
    }
    base = {
        r["vec_id"]: (r["cell"], [float(x) for x in r["embedding"]])
        for r in simi.kmeans_assign(emb, cents, arrow=False).collect()
    }
    for vid, (cell, vec) in base.items():
        exp = tuple(a - b for a, b in zip(vec, cents[cell]))
        assert fused[vid] == (cell, exp), vid


def test_arrow_paths_null_and_ragged_vectors_match_expression(spark):
    """NULL and wrong-length vectors must DEGRADE (NULL cell/codes),
    not raise, on the Arrow fast paths — with arrow=None auto-switching
    on k×dim, the same corpus must not start failing merely because the
    centroid count crossed the threshold. Parity is pinned against the
    expression path row by row, including pq_encode's per-subspace rule
    for short vectors."""
    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, None),
        (3, [1.0, 2.0]),          # covers subspace 0 only (m=2, d=2)
        (4, [0.5, 0.1, 0.9, 0.7]),
        (5, [1.0, 2.0, 3.0, 4.0, 5.0]),  # too long
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0],
             [2.0, 2.0, 2.0, 2.0]]
    e = {r["vec_id"]: r["cell"]
         for r in simi.kmeans_assign(df, cents, arrow=False).collect()}
    a = {r["vec_id"]: r["cell"]
         for r in simi.kmeans_assign(df, cents, arrow=True).collect()}
    assert a == e and a[2] is None and a[3] is None and a[5] is None

    books = [[[0.0, 0.0], [1.0, 2.0]], [[3.0, 4.0], [0.0, 0.0]]]
    cols = ["code_0", "code_1"]
    ee = {r["vec_id"]: tuple(r[c] for c in cols)
          for r in simi.pq_encode(df, books, arrow=False).collect()}
    aa = {r["vec_id"]: tuple(r[c] for c in cols)
          for r in simi.pq_encode(df, books, arrow=True).collect()}
    assert aa == ee
    assert aa[2] == (None, None)   # NULL vector
    assert aa[3] == (1, None)      # short vector: per-subspace rule
    assert aa[4] == (0, 1)

    # fused IVF-PQ encoder: NULL/ragged -> NULL cell + NULL codes
    idx = {r["vec_id"]: (r["cell"], r["code_0"], r["code_1"])
           for r in simi.ivfpq_index(df, cents, books, arrow=True).collect()}
    assert idx[2] == (None, None, None) and idx[5] == (None, None, None)
    assert idx[1][0] is not None and idx[4][0] is not None

    # an empty input, and a partition whose every vector is NULL or of
    # the wrong length: every per-vector kernel (int cell, list codes,
    # struct cell+codes, struct cell+residual) returns NULL, never fails
    cents3 = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    books3 = [[[0.0], [1.0]]] * 3
    cents86 = [[(i % 7) / 7, (i % 5) / 5, (i % 3) / 3] for i in range(86)]
    bad = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, None), (4, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    codes = {1: (None,) * 3, 2: (1, 0, None), 3: (None,) * 3, 4: (1, 0, 0)}
    for frame, want in ((bad.limit(0), {}), (bad, codes)):
        def by_id(out, lo):
            return {r[0]: tuple(r[lo:]) for r in out.collect()}

        assert by_id(simi.kmeans_assign(frame, cents3, arrow=True), 2) == {
            i: (None,) for i in want
        }
        assert by_id(simi.pq_encode(frame, books3, arrow=True), 2) == want
        assert by_id(
            simi.ivfpq_index(frame, cents3, books3, arrow=True), 1
        ) == {i: (None,) * 4 for i in want}
        assert by_id(simi._residuals(frame, cents86), 1) == {
            i: (None, None) for i in want
        }


def test_invalid_vectors_are_never_neighbors_and_never_fail(spark):
    """A NULL or wrong-length vector is dropped by every vectorized
    kernel instead of failing the Python worker: never a neighbor, never
    a query, never part of a dedup pair. Below the valid-neighbor count
    the vectorized brute force equals the expression twin, and IVF
    probing every cell equals the exact answer. ``train_centroids``
    skips invalid vectors and raises ValueError (not numpy's AxisError)
    when no valid vector is left, empty corpus included."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.2, 1.0]),
        (4, None),
        (5, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bad = {4, 5}
    q = df.filter(F.col("vec_id").isin(0, 2))

    def pairs(frame, a="q_id", b="n_id"):
        return sorted((r[a], r[b], r[2], *r[3:]) for r in frame.collect())

    exact = pairs(simi.brute_force_topk(df, q, k=2))
    assert exact == pairs(simi.brute_force_topk(df, q, k=2, vectorized=False))
    assert [(r[0], r[1]) for r in exact] == [(0, 1), (0, 2), (2, 1), (2, 3)]
    for got in (
        pairs(simi.brute_force_topk(df, df, k=3)),
        pairs(simi.lsh_topk(df, df, k=2)),
    ):
        assert got and not {x for r in got for x in r[:2]} & bad
    dup = pairs(simi.embedding_dedup_pairs(df, threshold=0.9), "id_a", "id_b")
    assert [(r[0], r[1]) for r in dup] == [(0, 1)]

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    ivf = simi.ivf_topk(df, q, k=2, nprobe=2, centroids=cents)
    assert pairs(ivf) == exact
    assert len(simi.train_centroids(df, ncells=2)[0]) == 3
    for empty in (df.limit(0), df.filter(F.col("vec_id") == 4)):
        with pytest.raises(ValueError, match="corpus has 0"):
            simi.train_centroids(empty)

    # an empty input and an input whose every vector is NULL or of the
    # wrong length: no rows from any kernel, no failed task
    for frame in (df.limit(0), df.filter(F.col("vec_id").isin(4, 5))):
        for got in (
            simi.brute_force_topk(frame, frame, k=2),
            simi.lsh_topk(frame, frame, k=2),
            simi.embedding_dedup_pairs(frame, threshold=0.9),
            simi.ivf_topk(frame, frame, k=2, nprobe=2, centroids=cents),
        ):
            assert got.collect() == []

    # two vector lengths equally common among the queries: the length
    # seen first (3) wins, so queries 0 and 2 run and 1 and 3 do not
    tie = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0, 0.0]),
         (3, [0.0, 1.0]), (4, [0.99, 0.1, 0.0]), (5, [0.0, 0.2, 1.0])],
        "vec_id long, embedding array<float>",
    )
    tq = tie.filter(F.col("vec_id") < 4)
    assert pairs(simi.brute_force_topk(tie, tq, k=2)) == [
        (0, 2, 0.0, 2), (0, 4, 0.994937, 1),
        (2, 4, 0.100499, 2), (2, 5, 0.196116, 1),
    ]
    assert pairs(simi.lsh_topk(tie, tq, k=2)) == [(0, 4, 0.994937, 1)]


def test_topk_cut_keeps_exact_ties_across_batches_and_cells(spark):
    """Four corpus vectors have bit-identical cosine to the query, and
    the k-th best falls inside that tie. They sit in several Arrow
    batches (one partition each), three of them in one batch beside a
    better row, and in four distinct IVF cells. The blocked cut must
    keep every tied row so the window resolves the tie by ascending
    n_id, exactly like the expression path."""
    tie = [[0.5, 0.5, 0.0], [0.5, -0.5, 0.0], [0.5, 0.0, 0.5], [0.5, 0.0, -0.5]]
    rows = [
        (9, [0.9, 0.1, 0.0]), (8, tie[0]), (2, tie[1]), (5, tie[2]),
        (6, tie[3]), (0, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0]),
        (7, [-1.0, 0.0, 0.0]),
        (1, [0.0, -1.0, 0.0]), (3, [0.0, 0.0, -1.0]), (10, [0.0, 1.0, 1.0]),
        (11, [-1.0, 1.0, 0.0]),
    ]
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    assert df.rdd.getNumPartitions() == 3
    q = spark.createDataFrame([(100, [1.0, 0.0, 0.0])], schema)
    want = [
        (100, 9, round(0.9 / math.sqrt(0.82), 6), 1),
        (100, 2, round(0.5 / math.sqrt(0.5), 6), 2),
        (100, 5, round(0.5 / math.sqrt(0.5), 6), 3),
    ]
    for got in (
        simi.brute_force_topk(df, q, k=3),
        simi.brute_force_topk(df, q, k=3, vectorized=False),
        simi.ivf_topk(df, q, k=3, nprobe=4, centroids=tie),
    ):
        assert sorted(map(tuple, got.collect()), key=lambda r: r[3]) == want
