"""Similarity search over embedding columns (array<float>).

Search tiers (north-star extension surface, BASELINE.json):

- Exact: ``brute_force_topk`` scores every (corpus, query) pair against
  a broadcast query set — |corpus| × |queries| work, embarrassingly
  parallel, no shuffle of the corpus. Two plans: blocked BLAS over
  Arrow batches (default) and the pure Catalyst expression twin.
- LSH: signed-random-projection band buckets block a join
  (``lsh_index`` persists them, ``lsh_topk_indexed`` queries them) and
  the surviving candidates are re-ranked exactly.
  ``embedding_dedup_pairs`` reuses the same banding as a self-join
  blocker + exact cosine verify.
- IVF: coarse centroids (``train_centroids``); each corpus vector is
  assigned to its nearest cell once (``ivf_index``), queries probe
  their ``nprobe`` nearest cells, and only those cells are scored
  exactly, one cogrouped matmul per cell. The cell id doubles as a
  physical partitioning key for pruned reads.
- PQ / IVF-PQ: product-quantization codes scored by Asymmetric
  Distance Computation lookup tables, per query (ordered LIMIT) or per
  batch (broadcast LUT join + window), with ``exact_rerank`` as the
  refine stage.

Kernel seam: the operators are thin plans over one layer of private
helpers.

- Every Python kernel crosses through ``operators/_arrow.py``, which
  states the seam's contract: ``vectors`` splits each Arrow batch into
  its valid vectors (non-NULL, expected length) and the rest, and every
  kernel runs on the valid rows only. NULL in → NULL or no row out: a
  per-row kernel (``vector_udf``: cell, probe list, PQ codes, residual)
  returns NULL for an invalid vector, and a top-k kernel never uses it
  as a neighbor or a query. No invalid vector fails a task.
- ``_unit`` normalises rows (zero rows stay zero); ``_topk_pairs`` is
  the tie-safe per-block cut and ``_rank_cut`` the final per-query
  window (ties to ascending ``n_id``), so the blocked plans are exact.
- ``_lut``, ``_probe_order`` and ``_adc_sum`` are the ADC table, probe
  order and score expression; ``_sq_l2`` is the squared-L2 fold. Their
  arithmetic order is fixed because the oracle replays it bit for bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.functions.scalar import let_bind
from from_superset_to_clickhouse_spark.operators.dedup import _finalize

from ._arrow import apply_groups, map_batches, vector_udf, vectors
from ._exact import GRID


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision (sequential fold, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# -- vector kernel ---------------------------------------------------------


def _unit(m):
    """Rows scaled to unit L2 norm; all-zero rows stay zero."""
    n = np.linalg.norm(m, axis=1)
    n[n == 0.0] = 1.0
    return m / n[:, None]


# the (query, neighbor, cosine) rows every top-k kernel emits
_SCORED = "q_id {t}, n_id {t}, sim double"


def _ids(col, ok):
    """The ids of an Arrow id column at the valid-vector rows ``ok``."""
    return col.to_numpy(zero_copy_only=False)[ok]


def _topk_pairs(s, n_ids, q_ids, k: int):
    """Tie-safe per-block top-k cut of an (n × nq) cosine matrix →
    (q_id, n_id, sim) rows. Self-pairs (equal ids) never match. A row
    is dropped only when ≥ k rows of the block beat it STRICTLY, so
    every row that could reach the global top-k under (sim desc, n_id
    asc) survives — exact ties with the k-th best included — and the
    final ``_rank_cut`` window is exact. ~k rows per query leave each
    block instead of n; an empty block leaves none."""
    rows = cols = np.zeros(0, dtype=np.int64)
    if s.size:
        s[n_ids[:, None] == q_ids[None, :]] = -np.inf
        t = min(k, s.shape[0])
        part = np.argpartition(-s, t - 1, axis=0)[:t]
        thresh = np.take_along_axis(s, part, 0).min(axis=0)
        rows, cols = np.nonzero((s >= thresh[None, :]) & np.isfinite(s))
    return {"q_id": q_ids[cols], "n_id": n_ids[rows], "sim": s[rows, cols]}


def _query_side(queries: DataFrame, id_col: str, vec_col: str):
    """Collect the query set (the small side, same contract as a
    broadcast join), keep its valid vectors, normalise and broadcast
    them → (broadcast of (ids, unit matrix), dim), or ``None`` when no
    query vector is valid."""
    rows = queries.select(id_col, vec_col).collect()
    ok, qm = vectors([r[1] for r in rows])
    if not len(qm):
        return None
    ids = np.array([r[0] for r in rows])[ok]
    sc = queries.sparkSession.sparkContext
    return sc.broadcast((ids, _unit(qm))), qm.shape[1]


def _rank_cut(scored: DataFrame, k: int, score: str, desc: bool = False):
    """Per-query top-k of (q_id, n_id, score) rows → (q_id, n_id,
    score, rank): one row_number window over q_id ordered by ``score``,
    ties to ascending ``n_id``. Cosine ``sim`` (``desc``) ranks at full
    precision and is rounded to 6 decimals on output; ADC / L2
    distances rank ascending and arrive already rounded."""
    order = F.col(score).desc() if desc else F.col(score)
    w = Window.partitionBy("q_id").orderBy(order, F.col("n_id"))
    out = F.round(score, 6).alias(score) if desc else F.col(score)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", out, "rank")
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Σ (a_i − b_i)² in DOUBLE, one ``(x − y) * (x − y)`` term per
    coordinate, folded left to right."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization → (id, scale, int8 codes):
    the 4× storage/shuffle-bandwidth reduction step an embedding lake
    applies before indexing (dequantize: ``v ≈ q * scale / 127``).

    Codes are ``floor(v * 127 / scale + 0.5)`` with ``scale =
    max(|v_i|)`` — floor-of-shifted rather than ROUND because ROUND's
    tie behavior differs across engines while floor is exact IEEE
    everywhere, so the oracle replays the codes bit-for-bit. The whole
    transform is Catalyst array expressions — no Python, no shuffle.
    Zero vectors quantize to all-zero codes with scale 0.
    """
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    return df.select(
        F.col(id_col),
        let_bind(
            scale,
            lambda s: F.struct(
                s.alias("_s"),
                F.transform(
                    v,
                    # TINYINT, not int: codes are provably within
                    # [-127, 127] (property-tested), and the 4× narrower
                    # element type is the entire point — persisted /
                    # shuffled width actually drops vs float32.
                    lambda x: F.when(s > 0.0, F.floor(x * 127.0 / s + 0.5))
                    .otherwise(F.lit(0))
                    .cast("tinyint"),
                ).alias("_q"),
            ),
        ).alias("_sq"),
    ).select(
        id_col,
        # float→double is lossless; a stable DOUBLE output type keeps the
        # oracle schema comparison engine-neutral
        F.col("_sq._s").cast("double").alias(scale_col),
        F.col("_sq._q").alias(out_col),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query vector → (q_id, n_id, sim, rank).

    Two physically different, semantically identical plans:

    - ``vectorized=True`` (default): blocked matrix multiply via Arrow
      ``mapInArrow``. Queries (the small side, same contract as the
      broadcast below) are L2-normalized into one numpy matrix and
      broadcast; each corpus Arrow batch computes a (batch × nq) cosine
      matrix with one BLAS call and emits only the ``_topk_pairs``
      candidates that can still reach the global top-k, so the final
      window re-rank is EXACT. ~30× the throughput of the per-pair
      expression path: the hot loop is C, not a per-element codegen
      lambda. A NULL or wrong-length vector (length ≠ the queries'
      common length) is never a neighbor and never a query.
    - ``vectorized=False``: pure Catalyst higher-order-function pipeline
      (zip_with/aggregate cosine against a broadcast queries side). No
      Python workers; the fully-SQL-expressible twin of the oracle.

    Both exclude self-matches on equal ids and tie-break by ascending
    ``n_id``.
    """
    if vectorized:
        return _brute_force_topk_vectorized(corpus, queries, k, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    )
    sim = cosine(F.col("q_vec"), F.col("n_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("n_id") != F.col("q_id"))
        .withColumn("sim", sim)
    )
    return _rank_cut(scored, k, "sim", desc=True)


def _brute_force_topk_vectorized(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Blocked exact kNN: per-Arrow-batch BLAS scoring + the
    ``_topk_pairs`` cut. Shuffled volume is ~k rows per (query, batch),
    not |corpus|."""
    id_type = dict(corpus.dtypes)[id_col]
    qs = _query_side(queries, id_col, vec_col)
    if qs is None:
        empty = _SCORED.format(t=id_type) + ", rank int"
        return corpus.sparkSession.createDataFrame([], empty)
    bq, dim = qs
    kk = int(k)

    def score(batches):
        qid, qu = bq.value
        for batch in batches:
            for lo in range(0, batch.num_rows, 2048):
                chunk = batch.slice(lo, 2048)
                ok, m = vectors(chunk.column(1), dim)
                yield _topk_pairs(
                    _unit(m) @ qu.T, _ids(chunk.column(0), ok), qid, kk
                )

    src = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("vec"))
    cand = map_batches(src, score, _SCORED.format(t=id_type))
    return _rank_cut(cand, k, "sim", desc=True)


def _srp_banded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    planes: int,
    band_bits: int,
    seed: int = 7,
) -> DataFrame:
    """(id, band, bucket) signed-random-projection band rows, one BLAS
    projection per Arrow batch.

    The hyperplanes are a deterministic Gaussian matrix (fixed seed →
    the same planes on every executor and every call, no RNG state
    shipped), the sign bits are one ``m @ P >= 0`` per batch, and a
    band's bucket is its bits read as a base-2 int. Only the first
    n_bands × band_bits bits feed buckets when ``planes`` does not
    divide evenly into bands. A Catalyst form (per-row hash-derived ±1
    planes) evaluated O(planes × dim) lambdas per row and was measured
    the dominant cost of ``lsh_topk``, ~an order of magnitude slower.

    SRP has no declared dimension: each batch bands the vectors of its
    most common length (``vectors`` with ``dim=None``), so a NULL or
    odd-length vector gets no band rows and is never a candidate."""
    id_type = dict(df.dtypes)[id_col]
    n_bands = planes // band_bits

    def gen(batches):
        planes_by_dim = {}
        pow2 = (1 << np.arange(band_bits)).astype(np.int64)
        for batch in batches:
            ok, m = vectors(batch.column(1))
            n, dim = m.shape
            if dim not in planes_by_dim:
                planes_by_dim[dim] = np.random.RandomState(
                    seed
                ).standard_normal((dim, planes))
            bits = (m @ planes_by_dim[dim]) >= 0.0  # n × planes
            buckets = (
                bits[:, : n_bands * band_bits].reshape(n, n_bands, band_bits)
                * pow2
            ).sum(axis=2)
            yield {
                out_id: np.repeat(_ids(batch.column(0), ok), n_bands),
                "band": np.tile(np.arange(n_bands, dtype=np.int32), n),
                "bucket": buckets.reshape(-1),
            }

    src = df.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("vec"))
    schema = f"{out_id} {id_type}, band int, bucket bigint"
    return map_batches(src, gen, schema, spread=True)


def lsh_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 64,
    band_bits: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Persistable SRP band index of a corpus: (n_id, band, bucket).

    Build ONCE, write to parquet (partition by ``band`` for band-local
    bucket joins), query many times with ``lsh_topk_indexed``. This is
    where LSH actually earns its keep at scale: banding touches every
    corpus vector (64 planes ≈ the FLOPs of scoring 64 queries
    exactly), so a one-shot band-and-join can never beat a blocked-BLAS
    scan — measured at a 100k-vector corpus, one-shot LSH loses to
    brute force while the SAME query batch against a prebuilt index
    wins. Amortizing the corpus-side work across query batches (and
    growing it incrementally, like ``minhash_incremental``) is the
    production pattern."""
    return _srp_banded(corpus, id_col, vec_col, "n_id", planes, band_bits, seed)


def lsh_topk_indexed(
    index: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 64,
    band_bits: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k against a prebuilt ``lsh_index``: band the
    query batch (cheap — |queries| rows), join id-only band rows
    against the index, exact re-rank of surviving candidates only.

    ``planes``/``band_bits``/``seed`` must match the index build — the
    signature function IS the index layout.

    Scale design: the band join carries ONLY (id, band, bucket) — never
    the vectors, which would multiply shuffle volume by the band count.
    Vectors are joined back just for the surviving candidate pairs
    (queries broadcast; corpus joined on its key). An index read from a
    band-partitioned parquet table arrives pre-bucketed; the query side
    is small enough to broadcast, so the index never shuffles."""
    qb = _srp_banded(queries, id_col, vec_col, "q_id", planes, band_bits, seed)
    cand = (
        index.join(qb, ["band", "bucket"])
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    nv = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    # Distinct BEFORE attaching vectors: the id-only pair set is the
    # cheap thing to shuffle; deduping after the vector join would move
    # |pairs| × dim floats instead (measured 2-4× slower).
    return _rerank_candidates_vectorized(
        cand.join(nv, "n_id"), queries, k, id_col, vec_col
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 64,
    band_bits: int = 4,
) -> DataFrame:
    """One-shot approximate top-k: build the SRP band index inline, then
    query it — ``lsh_index`` + ``lsh_topk_indexed`` fused.

    Defaults (64 planes, 16 bands × 4 bits) are tuned for ≥0.8 measured
    recall on the synthetic fixture embeddings, which are near-random
    (top-5 neighbor cosine ≈ 0.32, per-plane agreement p ≈ 0.6 →
    per-pair recall 1-(1-p^4)^16 ≈ 0.9). Clustered real-world embeddings
    have far higher per-plane agreement — use wider bands there
    (``band_bits=8``: 256 buckets/band, measured 0.97 recall on a
    256-cluster corpus) or 16-bucket bands explode candidate counts.

    NOTE: one-shot banding touches every corpus vector, so this form
    cannot beat a blocked-BLAS exact scan (see ``lsh_index``). Use it
    for single-pass workloads (one dedup sweep); persist the index for
    repeated query batches."""
    return lsh_topk_indexed(
        lsh_index(corpus, id_col, vec_col, planes, band_bits),
        corpus,
        queries,
        k,
        id_col,
        vec_col,
        planes,
        band_bits,
    )


def _rerank_candidates_vectorized(
    cand_v: DataFrame, queries: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact top-k over a candidate set: flat Arrow ``mapInArrow``
    scoring + Catalyst window cut.

    Query vectors (the broadcastable side) ride along as
    ``_query_side``'s driver broadcast; each Arrow batch computes all
    its pair similarities with ONE einsum — no per-group Python call,
    no per-pair codegen lambda. (A grouped-map variant, one Python
    call per q_id, was measured 6× slower at sf0.1: per-group overhead
    × |queries| beats the arithmetic.) The (sim desc, n_id asc) top-k cut happens
    in the window. Pairs with an invalid corpus or query vector are
    dropped.

    ``cand_v`` must have columns (q_id, n_id, n_vec) with (q_id, n_id)
    already distinct — callers dedup the id-only pair set before
    attaching vectors.
    """
    id_type = dict(cand_v.dtypes)["q_id"]
    qs = _query_side(queries, id_col, vec_col)
    if qs is None:
        empty = _SCORED.format(t=id_type) + ", rank int"
        return cand_v.sparkSession.createDataFrame([], empty)
    bq, dim = qs

    def score(batches):
        qid, qu = bq.value
        qpos = {q: i for i, q in enumerate(qid.tolist())}
        for batch in batches:
            ok, m = vectors(batch.column(2), dim)
            q = [qpos.get(q, -1) for q in batch.column(0).to_pylist()]
            qi = np.array(q, dtype=np.int64)[ok]
            hit = qi >= 0
            rows = np.flatnonzero(ok)[hit]
            yield {
                "q_id": batch.column(0).take(rows),
                "n_id": batch.column(1).take(rows),
                "sim": np.einsum("ij,ij->i", _unit(m[hit]), qu[qi[hit]]),
            }

    scored = map_batches(
        cand_v.select("q_id", "n_id", "n_vec"), score, _SCORED.format(t=id_type)
    )
    return _rank_cut(scored, k, "sim", desc=True)


def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 64,
    band_bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a < id_b, sim ≥ threshold).

    SRP band buckets block the self-join (ids only through the explode,
    as in ``lsh_topk``), then the surviving pairs are verified with an
    exact cosine. Near-identical vectors agree on almost every plane, so
    recall at dedup-grade thresholds (≥0.9) is effectively 1: a pair at
    cosine 0.95 disagrees on a plane with p≈0.10, P(≥1 clean 4-bit band
    of 16) ≈ 1-(1-0.9^4)^16 ≈ 0.999.
    """
    # Persisted: consumed by both sides of the self-join; payload is
    # (id, band, bucket) only. Released via _finalize below — persist
    # registers in the session CacheManager, which the ContextCleaner
    # does NOT reclaim, so the eager-materialize/unpersist pair is what
    # keeps repeated calls from accumulating storage blocks.
    banded = _srp_banded(
        df, id_col, vec_col, "vid", planes, band_bits
    ).persist()
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .select(F.col("l.vid").alias("id_a"), F.col("r.vid").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
    return _finalize(verified, banded)


def save_centroids(spark, centroids: list[list[float]], path: str) -> None:
    """Persist trained IVF centroids as a tiny parquet table — the
    production pattern: train once on a sample, ship the same coarse
    quantizer to every indexing/query job so cell assignments stay
    consistent across runs (retraining would silently re-shard the
    corpus)."""
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list[list[float]]:
    """Load centroids saved by ``save_centroids`` in cell order."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [list(r["centroid"]) for r in rows]


def train_centroids(
    corpus: DataFrame,
    ncells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 65536,
) -> list[list[float]]:
    """Lloyd-style coarse centroids for IVF.

    Trains on a deterministic ``sample_rows``-vector sample — rows taken
    in xxhash64(id) order, which Spark executes as per-partition top-N +
    merge (TakeOrdered), NOT a global sort — then runs Lloyd iterations
    on the driver in numpy. Sampling is the standard billion-scale IVF
    pattern (coarse quantizers are trained on a bounded sample
    regardless of corpus size), so driver memory is O(sample × dim) at
    any corpus scale. NULL and odd-length vectors are left out of the
    sample's matrix.

    Init = first ``ncells`` vectors in hash order; empty cells keep
    their previous centroid; centroids returned L2-normalized so
    assignment reduces to a dot product. Raises ``ValueError`` when the
    corpus has no valid vector.
    """
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("i")))
        .limit(int(sample_rows))
        .collect()
    )
    _, v = vectors([r["v"] for r in rows])
    if not len(v):
        raise ValueError(
            "train_centroids needs at least one vector; corpus has 0 valid"
        )
    cents_m = _unit(v[:ncells])
    for _ in range(iters):
        cell = np.argmax(v @ cents_m.T, axis=1)
        for c in range(len(cents_m)):
            members = v[cell == c]
            if len(members):
                cents_m[c] = members.mean(axis=0)
        cents_m = _unit(cents_m)
    return [[float(x) for x in c] for c in cents_m]


def _dist2(vec: Column, cent: list[float]) -> Column:
    """Squared Euclidean distance to a literal centroid, computed in
    DOUBLE and rounded to 6 decimals — the rounding is the cross-engine
    determinism contract (same as the cosine scores elsewhere): double
    arithmetic agrees across engines to ~1e-13, far inside the 5e-7
    rounding margin, so argmin never flips on representation noise."""
    c = F.array(*[F.lit(float(x)) for x in cent])
    return F.round(
        F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a.cast("double") - b) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


# Arrow fast-path switchover: k × dim multiply-adds per row above this
# run as one BLAS matmul per Arrow batch instead of per-element
# expression lambdas (zip_with/aggregate lambdas are interpreted —
# measured ~40 s for the 256-cell × 64-dim residual assignment at the
# bench's 100k-sample operating point, vs seconds for the matmul). The
# determinism contract is IDENTICAL either way (see _grid_argmin), so
# the cut purely trades plan shape; below it the expression form stays
# whole-stage-codegen with no Python worker round-trip (and is what the
# smallest oracle twins exercise — `test_assign_arrow_matches_expression`
# pins the two paths equal on real fixture vectors).
#
# r15 optimization round: lowered 1024 → 256 (guide §4.2). Measured on
# the sf0.1 fixture (20k × dim-64 vectors, m=4 k=8 d=16 = 512 ops):
# pq_encode 2.3 s expression vs 0.64 s Arrow, identical codes — the
# interpreted-lambda cost already dominates at 512 ops/row, and an
# unrolled pure-codegen form was measured SLOWER (10.9 s: the 512-term
# expression tree blows past codegen limits into interpreted eval).
# 256 keeps the tiniest assignments (e.g. 3 × 64 = 192) in codegen so
# the expression path stays exercised end-to-end.
_ARROW_ASSIGN_MIN_OPS = 256


def _grid_argmin_codes(mat, books):
    """First-min argmin per subspace on the SAME 1e-6 grid as
    ``_dist2``: squared L2 in float64 (expansion form — the ~1e-13
    summation-order noise vs the left-to-right lambda sits far inside
    the 5e-7 rounding margin, the exact argument ``_dist2`` already
    makes cross-engine), then HALF_UP to 6 decimals as integers
    (``floor(d2 * 1e6 + 0.5)`` ≡ ``F.round(d2, 6)`` for d2 ≥ 0 — order
    AND tie structure match, so ``np.argmin``'s first-minimal pick is
    ``array_position``'s lowest-index tie-break)."""
    out = np.empty((mat.shape[0], len(books)), dtype=np.int32)
    for s, b in enumerate(books):
        bk = np.asarray(b, dtype=np.float64)
        d = bk.shape[1]
        sub = mat[:, s * d : (s + 1) * d]
        d2 = sub @ bk.T
        d2 *= -2.0
        d2 += np.einsum("ij,ij->i", sub, sub)[:, None]
        d2 += np.einsum("ij,ij->i", bk, bk)[None, :]
        out[:, s] = np.argmin(np.floor(d2 * 1e6 + 0.5), axis=1)
    return out


def kmeans_assign(
    corpus: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: "bool | None" = None,
) -> DataFrame:
    """(id, cell) for every vector: argmin of rounded squared-L2
    distance against the broadcast centroid literals, ties to the
    lowest cell index (``array_position`` returns the FIRST minimal
    entry). Small k × dim: pure Catalyst multiply-adds inside
    whole-stage codegen, no shuffle, no Python. Large k × dim
    (``arrow=None`` auto, ≥ ``_ARROW_ASSIGN_MIN_OPS``): the SAME
    rounded-argmin as one BLAS matmul per Arrow batch — per-element
    expression lambdas are interpreted and dominate IVF-PQ training
    otherwise."""
    if arrow is None:
        arrow = len(cents) * len(cents[0]) >= _ARROW_ASSIGN_MIN_OPS
    if arrow:
        cell = vector_udf(
            "int", len(cents[0]), lambda m: _grid_argmin_codes(m, [cents])[:, 0]
        )(F.col(vec_col))
    else:
        dists = F.array(*[_dist2(F.col(vec_col), c) for c in cents])
        cell = let_bind(
            dists, lambda d: F.array_position(d, F.array_min(d)) - 1
        ).cast("int")
    return corpus.select(F.col(id_col), F.col(vec_col), cell.alias("cell"))


def kmeans(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd's k-means (Euclidean) → (assignments, centroids).

    Per iteration: one broadcast-literal assignment pass (no shuffle)
    and one per-(cell, coordinate) mean — posexplode + partial/final
    HashAggregate, so exactly k × dim rows cross to the driver per
    round regardless of corpus size. Init = the first ``k`` vectors by
    id (deterministic and oracle-replayable; callers wanting hash-order
    init compose with ``train_centroids``). Empty cells keep their
    previous centroid. The returned assignment is computed against the
    FINAL centroids (iters updates, then one closing assignment), which
    is exactly the unrolled form a SQL twin can replay.

    At 100 TB: state per round is k × dim floats broadcast out and
    k × dim averages back — the corpus is scanned ``iters + 1`` times
    and never shuffled on vectors; only the exploded (cell, idx, x)
    rows shuffle, combined map-side first."""
    # orderBy+limit, not filter(id < k): ids may be 1-based or sparse,
    # and "first k by id" must mean rank order, not value range.
    init = corpus.orderBy(id_col).select(vec_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(
            f"kmeans needs at least k={k} vectors; corpus has {len(init)}"
        )
    cents = [[float(x) for x in r[0]] for r in init]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = kmeans_assign(corpus, cents, id_col, vec_col)
        means = (
            assigned.select(
                "cell", F.posexplode(F.col(vec_col)).alias("idx", "x")
            )
            .groupBy("cell", "idx")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["idx"]] = r["m"]
        cents = [
            [by_cell.get(c, {}).get(i, cents[c][i]) for i in range(dim)]
            for c in range(k)
        ]
    return (
        kmeans_assign(corpus, cents, id_col, vec_col).select(id_col, "cell"),
        cents,
    )


def _probe(vec: Column, cents: list[list[float]], nprobe: int) -> Column:
    """The ``nprobe`` highest-dot cells per vector (array<int>, NULL for
    an invalid vector), one matmul + stable argsort per Arrow batch.
    Tie order among equal-similarity cells is irrelevant to results:
    every probed cell's candidates are exactly re-ranked."""
    c = np.asarray(cents, dtype=np.float64)
    npb = int(nprobe)
    return vector_udf(
        "array<int>",
        c.shape[1],
        lambda m: np.argsort(-(m @ c.T), axis=1, kind="stable")[:, :npb]
        .astype(np.int32),
    )(vec)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncells: int = 16,
    nprobe: int = 10,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse quantizer → probe nprobe cells →
    exact cosine re-rank of those cells only.

    Scoring work is the ~nprobe/ncells fraction of the corpus per query.
    The fixture embeddings are near-random (worst case for any
    partitioned index — neighbors barely correlate with cells), so the
    default probes 10/16 cells for ~0.87 measured recall; clustered
    real embeddings concentrate neighbors in 1-2 cells and prune far
    harder at the same recall.
    At 100 TB the cell id is also the partition key: assignment is a
    one-off pass (``ivf_index`` persists it; ``ivf_topk_indexed``
    queries it with partition-pruned reads), probes prune partitions,
    and each cell's vectors are co-located. Pass pre-trained
    ``centroids`` to skip training (the production pattern — train once
    on a sample).

    Scoring is a cogrouped-by-cell Arrow ``applyInArrow`` (one BLAS
    matmul per cell between the cell's corpus block and the queries
    probing it — per-cell work, C hot loop, shuffled output is only the
    per-(query, cell) top-k).
    """
    cents = centroids if centroids is not None else train_centroids(
        corpus, ncells, id_col=id_col, vec_col=vec_col
    )
    return ivf_topk_indexed(
        ivf_index(corpus, cents, id_col=id_col, vec_col=vec_col),
        queries,
        cents,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        nprobe=nprobe,
    )


def ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Persistable IVF index: (cell, n_id, n_vec) — every corpus vector
    assigned to its nearest centroid's cell, ONCE. Write it partitioned
    by ``cell`` — ``.repartition("cell")`` first for one file per cell —
    and query batches with ``ivf_topk_indexed``. The same ``centroids``
    (persist via ``save_centroids``) MUST be used at query time — the
    quantizer IS the index layout.

    When it pays: SELECTIVE query batches, where only the probed cells'
    partition directories are read (nprobe/ncells of the corpus touched
    from storage). For a bulk batch that probes every cell anyway, the
    fused ``ivf_topk`` over a hot corpus re-assigns with one matmul and
    skips the index re-read — measured faster on local disk; the index
    wins when the corpus doesn't fit hot or reads are pruned.

    Assignment is one argmax-dot matmul per Arrow batch, first max on
    ties, NULL cell for an invalid vector (the centroid matrix rides in
    the UDF closure — ncells×dim floats). An expression form inlining
    ncells×dim literals into per-element aggregate lambdas was measured
    ~10× slower from codegen bloat alone."""
    c = np.asarray(centroids, dtype=np.float64)
    assign = vector_udf(
        "int", c.shape[1], lambda m: np.argmax(m @ c.T, axis=1).astype(np.int32)
    )
    return corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        assign(F.col(vec_col)).alias("cell"),
    )


def ivf_index_append(
    index_path: str,
    new_corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: assign ONLY the new batch to cells
    and append into the existing cell-partitioned index directories.

    Because the quantizer (the frozen ``centroids``) is deterministic
    and per-row, append(old index, new batch) is EXACTLY equal to
    rebuilding from the unioned corpus — no approximation, no re-read
    of the existing index. Daily maintenance cost is O(batch),
    corpus-size-independent: the ANN counterpart of
    ``minhash_incremental``'s new×index design. When centroids are
    re-trained (quantizer drift), rebuild — the layout IS the
    quantizer, so new centroids invalidate every cell assignment."""
    ivf_index(new_corpus, centroids, id_col=id_col, vec_col=vec_col) \
        .repartition("cell") \
        .write.mode("append").partitionBy("cell").parquet(index_path)


def ivf_topk_pruned(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 10,
) -> DataFrame:
    """Selective-batch IVF against a cell-partitioned ``ivf_index`` on
    disk: compute the batch's probed cell set FIRST (a tiny job — at
    most ncells ints reach the driver), then read ONLY those cells'
    partition directories (a static ``isin`` the scan turns into
    PartitionFilters — directories outside the probe set are never
    listed or opened), then score exactly like ``ivf_topk_indexed``.

    This is the operator the cell-partitioned layout exists for: a
    small query batch probing p of N cells touches p/N of the corpus
    FROM STORAGE, not just in compute. Results are identical to the
    fused/indexed forms — each query only ever joins its own probed
    cells, all of which are in the union read here."""
    probe = _probe(F.col(vec_col), centroids, nprobe)
    cells = [
        r["cell"]
        for r in queries.select(F.explode(probe).alias("cell"))
        .distinct()
        .collect()
    ]
    index = spark.read.parquet(index_path).filter(
        F.col("cell").isin(cells)
    )
    return ivf_topk_indexed(
        index, queries, centroids, k=k, id_col=id_col, vec_col=vec_col,
        nprobe=nprobe,
    )


def ivf_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 10,
) -> DataFrame:
    """IVF top-k against a prebuilt ``ivf_index`` (columns: cell, n_id,
    n_vec): probe each query's ``nprobe`` nearest cells, exact cosine
    re-rank of those cells' vectors only.

    Scoring is a cogrouped-by-cell Arrow ``applyInArrow`` (one BLAS
    matmul per cell between the cell's corpus block and the queries
    probing it; shuffled output is only the per-(query, cell) top-k).
    An invalid query vector probes no cell; an invalid corpus vector is
    never scored."""
    qb = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(_probe(F.col(vec_col), centroids, nprobe)).alias("cell"),
    )
    scored = _score_cells_cogrouped(
        index, qb, k, dict(index.dtypes)["n_id"], len(centroids[0])
    )
    return _rank_cut(scored, k, "sim", desc=True)


def _score_cells_cogrouped(
    cb: DataFrame, qb: DataFrame, k: int, id_type: str, dim: int
) -> DataFrame:
    """Per-cell exact scoring: cogroup (corpus cell block, probing
    queries) → one normalized matmul over the valid vectors →
    ``_topk_pairs`` cut, so the global re-rank is exact over the probed
    candidate set."""
    kk = int(k)

    def score(left, right):
        ok, m = vectors(left.column("n_vec"), dim)
        qok, q = vectors(right.column("q_vec"), dim)
        return _topk_pairs(
            _unit(m) @ _unit(q).T,
            _ids(left.column("n_id"), ok),
            _ids(right.column("q_id"), qok),
            kk,
        )

    cells = cb.groupBy("cell").cogroup(qb.groupBy("cell"))
    return apply_groups(cells, score, _SCORED.format(t=id_type))


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_seeds: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then drop any
    vector that has a lower-id near-duplicate (cosine ≥ ``threshold``)
    in ITS OWN cluster → (id, cluster, keep).

    ``seeds`` is the prototype set the corpus is partitioned against
    (nearest-prototype by cosine, ties to the smallest seed id). It
    defaults to the ``n_seeds`` lowest-id vectors — a deterministic,
    oracle-replayable choice; at scale pass ``train_centroids`` output
    wrapped in a DataFrame instead (the plan is identical).

    The keep rule is the paper's one-pass pruning, NOT a transitive
    closure: v is dropped iff some u < v in the same cluster has
    cos(u, v) ≥ threshold — so it is directly expressible as NOT
    EXISTS, and the oracle checks it exactly. (For closure semantics
    compose ``embedding_dedup_pairs`` + ``connected_components``.)

    Shape at scale: the seed set is broadcast (O(N·k) scoring, no
    shuffle of the corpus); the pairwise stage is confined WITHIN
    clusters — Σ|c|² work instead of N², which is the entire point of
    SemDeDup — and shuffles on the cluster key. Scores are rounded to 6
    decimals before both the argmax and the threshold compare so every
    engine agrees on ties at the boundary.
    """
    if seeds is None:
        # orderBy+limit, not filter(id < n_seeds): ids may be 1-based or
        # sparse, and "lowest ids" must mean rank order, not value range.
        seeds = df.orderBy(id_col).limit(n_seeds)
    # Norms are materialized ONCE per vector/seed: the pairwise stages
    # below would otherwise re-fold the 2 norm aggregates inside every
    # pair's cosine (CSE does not reach into HOF lambdas) — measured 2×
    # on the within-cluster stage. Same arithmetic, same rounded values.
    sd = seeds.select(
        F.col(id_col).alias("seed_id"),
        F.col(vec_col).alias("seed_vec"),
        norm(F.col(vec_col)).alias("seed_nrm"),
    )
    vecs = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    assigned = (
        vecs.crossJoin(F.broadcast(sd))
        .withColumn(
            "score",
            F.round(
                dot(F.col("vec"), F.col("seed_vec"))
                / (F.col("nrm") * F.col("seed_nrm")),
                6,
            ),
        )
        .groupBy("vid")
        .agg(
            F.max_by(
                "seed_id", F.struct(F.col("score"), -F.col("seed_id"))
            ).alias("cluster")
        )
    )
    # r15 optimization round (guide §2.4/§5): the assignment stage
    # (N·k broadcast scoring + argmax) feeds THREE consumers — both
    # sides of the within-cluster self-join and the final keep join.
    # Materializing it once (eager localCheckpoint) replaces three
    # evaluations of the scoring subtree with one + two cheap scans
    # (measured 2.9 → 2.5 s warm at sf0.1, identical rows).
    with_vec = assigned.join(vecs, "vid").localCheckpoint(eager=True)
    assigned = with_vec.select("vid", "cluster")
    a, b = with_vec.alias("a"), with_vec.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .filter(
            F.round(
                dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            )
            >= F.lit(threshold)
        )
        .select(F.col("b.vid").alias("vid"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return (
        assigned.join(dropped, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cluster",
            F.when(F.col("_dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("keep"),
        )
    )


def rrf_fuse(
    ranked: "list[DataFrame]",
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of any number of ranked retrieval lists → (id, rrf_score, rank).

    Each input carries (id_col, rank_col); a candidate's fused score is
    Σ_lists 1/(c + rank), with lists that missed the candidate simply
    contributing nothing (full-outer join + coalesce-to-zero). This is
    the standard hybrid-retrieval combiner — BM25 sparse ranks fused
    with dense embedding-cosine ranks — and is rank-only, so the two
    sides' incomparable score scales never need calibration.

    Shape at scale: each input list is already top-depth (small — depth
    rows per query), so the fusion joins tiny DataFrames; the corpus
    pass happened inside the upstream retrievers. Score addition is a
    fixed left-to-right chain, bit-deterministic for the oracle. Final
    top-k is an ordered LIMIT (TakeOrderedAndProject), never a global
    sort.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked input")
    fused = None
    parts = []
    for i, df in enumerate(ranked):
        parts.append(f"_rrf_{i}")
        contrib = df.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col))).alias(
                f"_rrf_{i}"
            ),
        )
        fused = (
            contrib
            if fused is None
            else fused.join(contrib, id_col, "full_outer")
        )
    score = F.coalesce(F.col(parts[0]), F.lit(0.0))
    for p in parts[1:]:
        score = score + F.coalesce(F.col(p), F.lit(0.0))
    scored = fused.select(F.col(id_col), score.alias("_score"))
    w = Window.orderBy(F.col("_score").desc(), F.col(id_col))
    return (
        scored.orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.round("_score", 6).alias("rrf_score"),
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


# -- product quantization (PQ / ADC) --------------------------------------
#
# Compressed-domain ANN (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public literature): split each
# vector into M subspaces, k-means a tiny codebook per subspace, store
# each vector as M byte-sized code ids, and answer queries with
# Asymmetric Distance Computation — a per-query lookup table of
# query-subvector→centroid distances, so scoring a vector is M table
# lookups instead of a dim-wide float scan. THE scale path for 100 TB
# embedding corpora: 64-dim float32 vectors (256 B) compress to M=4
# bytes, turning a petabyte-scale scan problem into one that fits in
# cluster memory. Training mirrors ``kmeans`` (deterministic init,
# rounded-argmin assignment, bounded k×dim driver state), so the whole
# train→encode→search pipeline is SQL-replayable for the oracle.


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[list[float]]]":
    """Per-subspace Lloyd's → codebooks[sub][code] (len dim/m each).

    One pass per iteration trains ALL subspaces at once: each row
    computes its m assigned codes inside whole-stage codegen (broadcast
    codebook literals, rounded-distance argmin with lowest-code ties —
    the same cross-engine determinism contract as ``kmeans``), then one
    posexplode + groupBy((sub, code, idx)) mean returns exactly k × dim
    doubles to the driver per round regardless of corpus size. Init =
    subvectors of the first k rows by id; empty codes keep their
    previous centroid."""
    init = corpus.orderBy(id_col).select(vec_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"pq_train needs at least k={k} vectors")
    dim = len(init[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = [
        [[float(x) for x in r[0][s * d : (s + 1) * d]] for r in init]
        for s in range(m)
    ]
    for _ in range(iters):
        enc = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
        sub_rows = enc.select(
            F.posexplode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.col(f"code_{s}").alias("code"),
                        F.slice(F.col(vec_col), s * d + 1, d).alias("sv"),
                    )
                    for s in range(m)
                ])
            ).alias("_p", "r")
        ).select("r.sub", "r.code", F.posexplode("r.sv").alias("idx", "x"))
        means = (
            sub_rows.groupBy("sub", "code", "idx")
            .agg(F.avg(F.col("x").cast("double")).alias("mean"))
            .collect()
        )
        acc: dict = {}
        for r in means:
            acc.setdefault((r["sub"], r["code"]), {})[r["idx"]] = r["mean"]
        books = [
            [
                [
                    acc.get((s, c), {}).get(i, books[s][c][i])
                    for i in range(d)
                ]
                for c in range(k)
            ]
            for s in range(m)
        ]
    return books


def _round_d2(x, y) -> float:
    """round(Σ (float(a) − float(b))², 6) over zip(x, y), summed left to
    right — the driver-side twin of ``_dist2``'s grid."""
    return round(sum((float(a) - float(b)) ** 2 for a, b in zip(x, y)), 6)


def _lut(q, books, cent=None):
    """ADC lookup table [sub][code] = round(‖q_sub − books[sub][code]‖²,
    6), built driver-side. With ``cent`` the table is for the
    cell-relative residual q − cent (IVF-PQ)."""
    if cent is not None:
        q = [float(a) - float(b) for a, b in zip(q, cent)]
    d = len(books[0][0])
    return [
        [_round_d2(q[s * d : (s + 1) * d], c) for c in book]
        for s, book in enumerate(books)
    ]


def _probe_order(q, cents, nprobe: int) -> list[int]:
    """The ``nprobe`` cells nearest ``q`` by rounded squared L2, ties to
    the lowest cell."""
    dists = sorted((_round_d2(q, c), cell) for cell, c in enumerate(cents))
    return [cell for _, cell in dists[:nprobe]]


def _adc_sum(m: int, lut_row) -> Column:
    """ADC score column ``adc``: ``lut_row(s)`` is subspace s's table
    (array<double>) for the row; the m ``element_at`` lookups by
    code_s are added left to right and rounded to 4 decimals — a fixed
    order, so the oracle replays it bit for bit."""
    adc = F.element_at(lut_row(0), F.col("code_0") + 1)
    for s in range(1, m):
        adc = adc + F.element_at(lut_row(s), F.col(f"code_{s}") + 1)
    return F.round(adc, 4).alias("adc")


def _adc_batch_topk(j: DataFrame, m: int, topk: int, id_col: str):
    """Batch ADC scoring of code rows joined to their query's ``lut``
    column → per-query top-k window."""
    scored = j.select(
        "q_id",
        F.col(id_col).alias("n_id"),
        _adc_sum(m, lambda s: F.element_at(F.col("lut"), s + 1)),
    )
    return _rank_cut(scored, topk, "adc")


def pq_encode(
    corpus: DataFrame,
    books: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: "tuple[str, ...]" = (),
    arrow: "bool | None" = None,
) -> DataFrame:
    """(id, vec, [keep_cols...,] code_0..code_{m-1}): each subvector's
    nearest-codebook id via rounded-distance argmin, ties to the lowest
    code. Small m × k × (dim/m): pure Catalyst multiply-adds in
    codegen, no shuffle, no Python. Large (``arrow=None`` auto, total
    ops ≥ ``_ARROW_ASSIGN_MIN_OPS``): the same argmin per subspace as
    one Arrow-batched matmul pass — identical grid/tie contract. The m
    int codes ARE the compressed vector."""
    m = len(books)
    k = len(books[0])
    d = len(books[0][0])
    cols = [F.col(id_col), F.col(vec_col)]
    cols += [F.col(c) for c in keep_cols]
    if arrow is None:
        arrow = m * k * d >= _ARROW_ASSIGN_MIN_OPS
    if arrow:

        def ragged(x):
            # a non-NULL vector of the wrong length keeps the expression
            # path's per-subspace rule: code_s is real iff the vector
            # covers subspace s completely, NULL past its end
            return [
                int(_grid_argmin_codes(x[s * d : (s + 1) * d][None, :], [b])[0, 0])
                if len(x) >= (s + 1) * d
                else None
                for s, b in enumerate(books)
            ]

        codes = vector_udf(
            "array<int>", m * d, lambda mat: _grid_argmin_codes(mat, books), ragged
        )(F.col(vec_col))
        tmp = corpus.select(*cols, codes.alias("_pq_codes"))
        return tmp.select(
            *[F.col(c) for c in tmp.columns[:-1]],
            *[
                F.element_at(F.col("_pq_codes"), s + 1).alias(f"code_{s}")
                for s in range(m)
            ],
        )
    for s in range(m):
        sl = F.slice(F.col(vec_col), s * d + 1, d)
        dists = F.array(*[_dist2(sl, c) for c in books[s]])
        code = let_bind(
            dists, lambda dd: F.array_position(dd, F.array_min(dd)) - 1
        ).cast("int")
        cols.append(code.alias(f"code_{s}"))
    return corpus.select(*cols)


def pq_adc_topk(
    corpus: DataFrame,
    books: "list[list[list[float]]]",
    query: "list[float]",
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: bool = False,
) -> DataFrame:
    """Asymmetric Distance Computation top-k: the query is NOT
    quantized — a per-query LUT of round(||q_sub − codebook[sub][c]||²,
    6) is built driver-side (m × k doubles) and baked into the plan as
    literals, so scoring a row is m element_at lookups + a fixed
    left-to-right add chain (bit-deterministic for the oracle), and the
    result is an ordered LIMIT, never a global sort. At 100 TB the scan
    reads ONLY the m byte-ish code columns (column pruning drops the
    raw vectors), which is the entire point of PQ."""
    lut = _lut(query, books)
    # ``encoded=True``: corpus already carries code_0..code_{m-1} (the
    # persisted-index production shape — encode once, ADC-scan codes per
    # query batch); otherwise encode inline for the one-shot path.
    enc = (
        corpus
        if encoded
        else pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
    )
    scored = enc.select(
        F.col(id_col),
        *[F.col(f"code_{s}") for s in range(len(books))],
        _adc_sum(len(books), lambda s: F.array(*[F.lit(v) for v in lut[s]])),
    )
    return scored.orderBy("adc", id_col).limit(topk)


def exact_rerank(
    corpus: DataFrame,
    candidates: DataFrame,
    query: "list[float]",
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The FAISS-style *refine* stage for compressed-domain search:
    join a BOUNDED candidate id set (ADC top-R) back to the raw
    vectors and rank by exact squared L2 to the query literal →
    (id, dist). PQ/IVF-PQ codes identify the right neighborhood but
    cannot order within-cluster ties (the quantization cell is wider
    than the neighbor gaps); re-scoring R ≪ N candidates exactly
    restores the ordering at R/N of the exact-scan cost. The candidate
    side broadcasts (R rows), so the join never shuffles the corpus;
    at 100 TB the raw-vector lookup is the only full-width read and
    it touches R rows."""
    d2 = _sq_l2(F.col(vec_col), F.array(*[F.lit(float(x)) for x in query]))
    # distinct() the candidate ids: duplicate candidate rows (e.g. a
    # probe union that emits an id twice) would otherwise duplicate
    # (id, dist) rows and burn topk slots.
    j = F.broadcast(candidates.select(id_col).distinct()).join(
        corpus, id_col
    )
    return (
        j.select(F.col(id_col), F.round(d2, 6).alias("dist"))
        .orderBy("dist", id_col)
        .limit(topk)
    )


def _cell_residual(cents: "list[list[float]]", books=None):
    """Per-matrix function for ``vector_udf``: coarse cell (grid
    argmin), residual v − centroid[cell] (IEEE float64 subtract —
    bit-identical to the expression path's per-element DOUBLE minus)
    and, with ``books``, the m residual codes instead of the residual.
    Same determinism contract throughout (``_grid_argmin_codes``)."""
    c = np.asarray(cents, dtype=np.float64)

    def fn(mat):
        cell = _grid_argmin_codes(mat, [cents])[:, 0]
        res = mat - c[cell]
        if books is None:
            return {"cell": cell, "residual": res}
        return {"cell": cell, "codes": _grid_argmin_codes(res, books)}

    return fn


def _residuals(
    corpus: DataFrame,
    cents: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, residual): per-vector coarse assignment (rounded
    argmin, lowest-cell ties — the shared determinism contract) and the
    DOUBLE residual v − centroid[cell]. Small ncells × dim stays in
    codegen (the centroid table rides as a nested array literal indexed
    by the assigned cell); at ≥ ``_ARROW_ASSIGN_MIN_OPS`` both come from
    one Arrow pass (``_cell_residual``), bit-identical."""
    if len(cents) * len(cents[0]) >= _ARROW_ASSIGN_MIN_OPS:
        cell_res = vector_udf(
            "struct<cell:int, residual:array<double>>",
            len(cents[0]),
            _cell_residual(cents),
        )
        tmp = corpus.select(F.col(id_col), cell_res(F.col(vec_col)).alias("_cr"))
        return tmp.select(
            F.col(id_col),
            F.col("_cr.cell").alias("cell"),
            F.col("_cr.residual").alias("residual"),
        )
    assigned = kmeans_assign(corpus, cents, id_col, vec_col)
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    res = F.zip_with(
        F.col(vec_col),
        F.element_at(cent_lit, F.col("cell") + 1),
        lambda a, b: a.cast("double") - b,
    )
    return assigned.select(
        F.col(id_col), F.col("cell"), res.alias("residual")
    )


def ivfpq_train(
    corpus: DataFrame,
    ncells: int = 4,
    coarse_iters: int = 1,
    m: int = 4,
    k: int = 8,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "list[list[float]] | None" = None,
):
    """IVF-PQ training (the FAISS-style two-level index — Jégou et al.
    2011 §IV): a coarse Lloyd's quantizer shards the corpus into cells,
    then ONE set of product-quantization codebooks is trained on the
    RESIDUALS v − centroid[cell] (residuals are centered near zero, so
    a shared codebook quantizes them far better than raw vectors).
    Returns (centroids, codebooks). Both stages reuse the deterministic
    rounded-argmin/first-k-init contract, which is what keeps the whole
    two-level pipeline SQL-replayable.

    Cost: the stage is dominated by the ncells×dim rounded-argmin that
    produces residuals. Unrolling the distance into element_at
    arithmetic keeps bit-identity but the 256×64-term expression tree
    OOMs the JVM. Above ``_ARROW_ASSIGN_MIN_OPS`` ``_residuals`` runs
    the argmin as one matmul per Arrow batch on the same 1e-6 grid as
    the expression path, so cells and residuals are bit-exact
    (``test_residuals_fused_arrow_matches_expression``). The residual
    persist below makes it one pass instead of pq_train's two, and
    training runs on a bounded sample."""
    if centroids is None:
        _, cents = kmeans(
            corpus, k=ncells, iters=coarse_iters, id_col=id_col,
            vec_col=vec_col,
        )
    else:
        # Reuse already-trained coarse centroids (e.g. the persisted
        # ``train_centroids`` output an IVF deployment already has) —
        # only the residual PQ codebooks are trained.
        cents = centroids
    # Materialize the residual sample ONCE: the ncells×dim argmin that
    # produces residuals is the expensive part of this stage (for large
    # ncells the expression tree leaves whole-stage codegen), and
    # pq_train scans its input twice (init collect + encode pass) per
    # iteration — without the persist the residual pass re-runs each
    # time (measured 74.5 s → 35.9 s at the bench's 100k×64/256-cell
    # operating point). The train sample is bounded by contract
    # (FAISS-style: train on ~100k regardless of corpus size), so the
    # persist is O(sample), never O(corpus).
    res = _residuals(corpus, cents, id_col, vec_col).persist()
    try:
        res.count()
        books = pq_train(
            res, m=m, k=k, iters=pq_iters, id_col=id_col, vec_col="residual"
        )
    finally:
        res.unpersist()
    return cents, books


def ivfpq_index(
    corpus: DataFrame,
    cents: "list[list[float]]",
    books: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: "bool | None" = None,
) -> DataFrame:
    """(id, cell, code_0..code_{m-1}): the complete compressed index
    row — coarse cell for partition pruning plus m residual code ids.
    At 100 TB this is what persists (partitionBy(cell), a few bytes per
    vector); the raw vectors are only ever re-read to rerank. Large
    ncells × dim takes the fused one-pass Arrow encoder (same contract
    — ``test_ivfpq_index_arrow_matches_expression`` pins the paths
    equal); small stays pure Catalyst."""
    if arrow is None:
        arrow = len(cents) * len(cents[0]) >= _ARROW_ASSIGN_MIN_OPS
    if arrow:
        # one Python round-trip per batch for cell, residual and codes
        # instead of assign-UDF → interpreted zip_with → encode-UDF
        # (measured 18.1 s → ~4 s for the 400k×64/256-cell bench encode)
        enc = vector_udf(
            "struct<cell:int, codes:array<int>>",
            len(cents[0]),
            _cell_residual(cents, books),
        )
        tmp = corpus.select(F.col(id_col), enc(F.col(vec_col)).alias("_e"))
        return tmp.select(
            F.col(id_col),
            F.col("_e.cell").alias("cell"),
            *[
                F.element_at(F.col("_e.codes"), s + 1).alias(f"code_{s}")
                for s in range(len(books))
            ],
        )
    res = _residuals(corpus, cents, id_col, vec_col)
    enc = pq_encode(
        res, books, id_col=id_col, vec_col="residual", keep_cols=("cell",)
    )
    return enc.drop("residual")


def ivfpq_topk(
    corpus: DataFrame,
    cents: "list[list[float]]",
    books: "list[list[list[float]]]",
    query: "list[float]",
    nprobe: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "DataFrame | None" = None,
) -> DataFrame:
    """IVF-PQ ADC search: probe the ``nprobe`` coarse cells nearest the
    query (rounded-distance order, lowest-cell ties), build ONE LUT per
    probed cell from the cell-relative query residual q − centroid[cell]
    against the shared codebooks (nprobe × m × k doubles, driver-side,
    baked as literals), then score only rows whose cell is probed: m
    lookups + a fixed left-to-right add chain, ordered LIMIT. The cell
    filter is the partition-pruning path when the index is persisted
    partitionBy(cell) — unprobed shards are never read."""
    m = len(books)
    probes = _probe_order(query, cents, nprobe)
    # ``index``: a pre-built ivfpq_index DataFrame (or its persisted
    # parquet re-read) — encode once, probe many; when persisted
    # partitionBy(cell) the isin filter below is the partition-pruning
    # path, so unprobed shards are never read.
    idx = (
        index
        if index is not None
        else ivfpq_index(corpus, cents, books, id_col, vec_col)
    )
    probed = idx.filter(F.col("cell").isin(probes))
    # probe position lookup keeps the LUT a rectangular literal array
    pos = F.lit(None).cast("int")
    for i, cell in enumerate(probes):
        pos = F.when(F.col("cell") == cell, F.lit(i)).otherwise(pos)
    luts = [_lut(query, books, cents[cell]) for cell in probes]
    lut_lit = [
        F.array(*[F.array(*[F.lit(v) for v in lut[s]]) for lut in luts])
        for s in range(m)
    ]
    probed = probed.withColumn("_pos", pos)
    return (
        probed.select(
            F.col(id_col),
            F.col("cell"),
            *[F.col(f"code_{s}") for s in range(m)],
            _adc_sum(m, lambda s: F.element_at(lut_lit[s], F.col("_pos") + 1)),
        )
        .orderBy("adc", id_col)
        .limit(topk)
    )


def dbscan_grid(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
    max_iter: int = 30,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over 2-D
    points → (id, cluster, is_core): cluster = min id of the point's
    density-connected core component; border points take the smallest
    cluster among their core neighbors (a deterministic refinement of
    DBSCAN's arbitrary-assignment rule); noise points are absent.

    Distributed shape — the textbook algorithm is sequential; this is
    the relational reformulation:

    1. eps-grid bucketing: each point keys to cell (⌊x/eps⌋, ⌊y/eps⌋);
       candidate pairs come from a 9-cell neighborhood equi-join (the
       left side fans out ×9, the join itself is a hash join on the
       cell key — density-bounded, never n²; same trick as
       ``geo.neighbor_pairs_grid``).
    2. neighbor counts (|N_eps(p)| includes p itself, per the paper) →
       core flags: one partial-aggregated count.
    3. core–core adjacency → ``graph.connected_components`` (the
       O(log d)-round pointer-jumping loop) labels each density-
       connected component with its min core id.
    4. border attach: one keyed join from non-core points to their
       core neighbors' labels, min-aggregated.

    All distance tests compare squared distance to eps² in double
    precision — identical arithmetic on any engine, no sqrt.
    """
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
    )

    eps2 = eps * eps
    pts = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("double").alias("px"),
        F.col(y_col).cast("double").alias("py"),
        F.floor(F.col(x_col) / eps).cast("long").alias("cx"),
        F.floor(F.col(y_col) / eps).cast("long").alias("cy"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probe = None
    for dx, dy in offs:
        part = pts.select(
            "pid", "px", "py",
            (F.col("cx") + dx).alias("cx"),
            (F.col("cy") + dy).alias("cy"),
        )
        probe = part if probe is None else probe.unionByName(part)
    right = pts.select(
        F.col("pid").alias("qid"), F.col("px").alias("qx"),
        F.col("py").alias("qy"), "cx", "cy",
    )
    near = (
        probe.join(right, ["cx", "cy"])
        .filter(
            (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx"))
            + (F.col("py") - F.col("qy")) * (F.col("py") - F.col("qy"))
            <= F.lit(eps2)
        )
        .select("pid", "qid")
    )
    counts = near.groupBy("pid").agg(F.count(F.lit(1)).alias("n_nb"))
    core = counts.filter(F.col("n_nb") >= min_pts).select("pid")
    core_edges = (
        near.join(core.withColumnRenamed("pid", "qid"), "qid")
        .join(core, "pid")
        .filter(F.col("pid") < F.col("qid"))
        .select(F.col("pid").alias("src"), F.col("qid").alias("dst"))
    )
    labels = connected_components(
        core_edges, nodes=core.withColumnRenamed("pid", "node"),
        max_iter=max_iter,
    ).select(F.col("node").alias("pid"), F.col("component").alias("cluster"))
    core_out = labels.withColumn("is_core", F.lit(True))
    border = (
        near.join(core.withColumnRenamed("pid", "qid"), "qid")
        .join(core.withColumnRenamed("pid", "_c"),
              F.col("pid") == F.col("_c"), "left_anti")
        .join(labels.withColumnRenamed("pid", "qid")
                    .withColumnRenamed("cluster", "_qc"), "qid")
        .groupBy("pid")
        .agg(F.min("_qc").alias("cluster"))
        .withColumn("is_core", F.lit(False))
    )
    return core_out.unionByName(border).withColumnRenamed("pid", id_col)


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Ranking-quality evaluation → (query, n_judged, dcg, idcg,
    ndcg): NDCG@k with the standard graded gain (2^rel − 1) /
    log2(rank + 1), ideal ranking by relevance descending. The
    offline eval metric for every retrieval stack in this module
    (BM25 / hybrid RRF / ANN) — a ranking change is only an
    improvement if this number says so.

    Two keyed row_number windows over the same partition (system
    ranking by score, ideal ranking by relevance), one aggregation.
    ``tiebreak_col`` makes both orders total so the metric is
    engine-stable; callers pass the doc id."""
    tb = [F.col(tiebreak_col)] if tiebreak_col else []
    w_sys = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), *tb
    )
    w_ideal = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), *tb
    )
    ranked = df.select(
        F.col(query_col).alias("query"),
        F.col(rel_col).cast("double").alias("_rel"),
        F.row_number().over(w_sys).alias("_rs"),
        F.row_number().over(w_ideal).alias("_ri"),
    )
    gain = F.pow(F.lit(2.0), F.col("_rel")) - 1.0
    dcg = F.sum(
        F.when(F.col("_rs") <= k, gain / F.log2(F.col("_rs") + 1.0)).otherwise(
            0.0
        )
    )
    idcg = F.sum(
        F.when(F.col("_ri") <= k, gain / F.log2(F.col("_ri") + 1.0)).otherwise(
            0.0
        )
    )
    return (
        ranked.groupBy("query")
        .agg(
            F.count(F.lit(1)).alias("n_judged"),
            F.round(dcg, 6).alias("dcg"),
            F.round(idcg, 6).alias("idcg"),
            F.round(
                F.when(idcg > 0, dcg / idcg).otherwise(F.lit(0.0)), 6
            ).alias("ndcg"),
        )
    )


def knn_classify_eval(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Leave-one-out k-NN classification accuracy per class →
    (label, n_eval, n_correct, accuracy): every vector is classified
    by the majority label of its k nearest cosine neighbors
    (excluding itself; vote ties break to the SMALLEST label —
    deterministic on every engine), then scored against its own
    label. The standard "are these embeddings any good" probe run
    before anyone trains on them.

    Built on :func:`brute_force_topk` — the exact comparator — so the
    eval inherits its scale story: at corpus scale swap in the IVF /
    LSH top-k and this becomes the recall-weighted variant; the vote
    and scoring joins are already bounded by queries × k."""
    nb = brute_force_topk(
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        ),
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        ),
        k=k,
    )
    lbl = emb.select(
        F.col(id_col).alias("n_id"),
        F.col(label_col).cast("int").alias("_nl"),
    )
    qlbl = emb.select(
        F.col(id_col).alias("q_id"),
        F.col(label_col).cast("int").alias("_tl"),
    )
    votes = nb.join(lbl, "n_id").groupBy("q_id", "_nl").agg(
        F.count("*").alias("_c")
    )
    pred = votes.groupBy("q_id").agg(
        F.max(
            F.struct(
                F.col("_c").alias("c"),
                (-F.col("_nl")).alias("neg"),
                F.col("_nl").alias("lab"),
            )
        )["lab"].alias("_pred")
    )
    j = pred.join(qlbl, "q_id")
    per = j.groupBy(F.col("_tl").alias("label")).agg(
        F.count("*").alias("n_eval"),
        F.sum((F.col("_pred") == F.col("_tl")).cast("long")).alias(
            "n_correct"
        ),
    )
    return per.select(
        "label",
        "n_eval",
        "n_correct",
        F.round(
            F.col("n_correct").cast("double")
            / F.col("n_eval").cast("double"),
            6,
        ).alias("accuracy"),
    )


def pca_top_component(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
) -> DataFrame:
    """Top principal component of an embedding corpus by power
    iteration → one row per dimension (dim, mu, loading) plus the
    repeated scalars (lambda1, explained): the first "what is this
    embedding space doing" diagnostic (a dominant component with high
    explained variance usually means un-normalized embeddings or a
    degenerate encoder).

    Scale/determinism shape: ONE distributed pass builds the exact
    grid-quantized covariance — Σxⱼxₖ and μ on the 2^-20 grid via a
    per-vector dimension self-join keyed on the vector id (n·d²
    expansion, never n²) — then the d×d matrix (4096 scalars at
    d = 64) collects to the driver, which runs ``iters`` power steps
    with every iterate floored to the 1e-9 grid: the same
    bounded-collect precedent as k-means centroid training and the
    same unrolled-recursion oracle contract as platt/huber (the SQL
    twin replays the identical matvec → normalize → grid walk)."""
    import math

    q = GRID
    d = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("j", "x"),
    ).select("_id", "j", F.col("x").cast("double").alias("x"))
    a = d.select("_id", F.col("j").alias("j"), F.col("x").alias("xj"))
    b = d.select("_id", F.col("j").alias("k"), F.col("x").alias("xk"))
    sums = (
        a.join(b, "_id")
        .groupBy("j", "k")
        .agg(
            (F.sum(F.floor(F.col("xj") * F.col("xk") * q)) / q).alias(
                "_sxx"
            )
        )
    )
    mu = d.groupBy("j").agg(
        F.count("*").alias("_n"), (F.floor(F.avg("x") * q) / q).alias("_mu")
    )
    rows = sums.collect()
    mus = {r["j"]: (r["_n"], r["_mu"]) for r in mu.collect()}
    dim = 1 + max(r["j"] for r in rows)
    n = mus[0][0]
    m = [mus[j][1] for j in range(dim)]
    cmat = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        j, k = r["j"], r["k"]
        cmat[j][k] = (r["_sxx"] - n * m[j] * m[k]) / (n - 1.0)
    grid = lambda x: math.floor(x * 1e9 + 0.5) / 1e9  # noqa: E731
    v = [grid(1.0 / math.sqrt(dim))] * dim
    for _ in range(iters):
        w = [
            sum(cmat[j][k] * v[k] for k in range(dim))
            for j in range(dim)
        ]
        nrm = math.sqrt(sum(x * x for x in w))
        v = [grid(x / nrm) for x in w]
    lam = sum(
        v[j] * cmat[j][k] * v[k] for j in range(dim) for k in range(dim)
    )
    trace = sum(cmat[j][j] for j in range(dim))
    spark = emb.sparkSession
    out = spark.createDataFrame(
        [
            (j, m[j], v[j], round(lam, 6), round(lam / trace, 6))
            for j in range(dim)
        ],
        "dim int, mu double, loading double, lambda1 double,"
        " explained double",
    )
    return out


def mmd_rbf(
    sample_a: DataFrame,
    sample_b: DataFrame,
    vec_col: str = "embedding",
    sigma2: float = 2.0,
) -> DataFrame:
    """Maximum Mean Discrepancy² (Gretton et al. 2012, biased
    V-statistic) between two embedding samples with the RBF kernel →
    single row (n_a, n_b, kxx, kyy, kxy, mmd2): the kernel two-sample
    test behind embedding-distribution drift detection — "did this
    week's corpus move in embedding space?" — where PSI/KS only see
    one scalar at a time.

    MMD is inherently O(n²) in the SAMPLE sizes, so the contract is
    bounded inputs (hash-sampled groups — the standard practice); the
    pair expansions are broadcast nested-loop joins of the two bounded
    sides, never a corpus×corpus product. Pair distances fold
    left-to-right over dims and land on the 1e-6 grid before exp, so
    both engines feed libm identical doubles; the three kernel means
    are ratios of bounded sums (≤1 ulp per exp term, orders below the
    6dp round)."""
    two_s2 = 2.0 * float(sigma2)

    def _k(x, y):
        return F.exp(-F.round(_sq_l2(x, y), 6) / F.lit(two_s2))

    # NULL embeddings are dropped up front so n_a/n_b describe exactly
    # the population the kernel means average over (a null vector would
    # null its kernel terms, which avg() silently skips).
    a = (
        sample_a.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).alias("_xa"))
    )
    b = (
        sample_b.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).alias("_xb"))
    )

    def mean_k(left, right, lc, rc):
        j = left.crossJoin(F.broadcast(right))
        return j.agg(F.avg(_k(F.col(lc), F.col(rc))).alias("_m"))

    kxx = mean_k(a, a.select(F.col("_xa").alias("_xa2")), "_xa", "_xa2")
    kyy = mean_k(b, b.select(F.col("_xb").alias("_xb2")), "_xb", "_xb2")
    kxy = mean_k(a, b, "_xa", "_xb")
    na = a.groupBy().agg(F.count("*").alias("n_a"))
    nb = b.groupBy().agg(F.count("*").alias("n_b"))
    out = (
        kxx.select(F.col("_m").alias("_kxx"))
        .crossJoin(F.broadcast(kyy.select(F.col("_m").alias("_kyy"))))
        .crossJoin(F.broadcast(kxy.select(F.col("_m").alias("_kxy"))))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    return out.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("_kxx", 6).alias("kxx"),
        F.round("_kyy", 6).alias("kyy"),
        F.round("_kxy", 6).alias("kxy"),
        F.round(
            F.col("_kxx") + F.col("_kyy") - 2.0 * F.col("_kxy"), 6
        ).alias("mmd2"),
    )


def pq_adc_topk_batch(
    codes: DataFrame,
    books: "list[list[list[float]]]",
    queries: "dict[int, list[float]]",
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch ADC search over a pre-encoded code table → (q_id, n_id,
    adc, rank ≤ topk): ONE plan for the whole query batch instead of
    |Q| unioned scans. Per-query LUTs (|Q| × m × k doubles, bounded
    query-side state like every ANN batch here) ride a BROADCAST table
    joined to the codes, scoring stays m element_at lookups per
    (query, row), and the per-query top-k is one window over the
    q_id-partitioned scores — the offline-eval / reranker shape, where
    the per-query ordered-LIMIT plan is the online-serving one.
    Measured on the bench's 400k corpus: 16 queries in ~1 scan instead
    of 16. At 100 TB the scan cost is paid once per BATCH, not per
    query."""
    luts = codes.sparkSession.createDataFrame(
        [(int(qid), _lut(q, books)) for qid, q in queries.items()],
        "q_id long, lut array<array<double>>",
    )
    return _adc_batch_topk(
        codes.crossJoin(F.broadcast(luts)), len(books), topk, id_col
    )


def ivfpq_topk_batch(
    index: DataFrame,
    cents: "list[list[float]]",
    books: "list[list[list[float]]]",
    queries: "dict[int, list[float]]",
    nprobe: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch IVF-PQ ADC search over a pre-built ``ivfpq_index`` →
    (q_id, n_id, adc, rank ≤ topk), one plan for the whole batch: the
    broadcast table carries one row per PROBED (q_id, cell) pair with
    that pair's residual LUT, so the inner join against the index both
    APPLIES the probe filter and delivers the right LUT — unprobed
    cells never join, exactly the partition-pruning semantics of the
    per-query form, without |Q| separate scans."""
    rows = [
        (int(qid), int(cell), _lut(q, books, cents[cell]))
        for qid, q in queries.items()
        for cell in _probe_order(q, cents, nprobe)
    ]
    luts = index.sparkSession.createDataFrame(
        rows, "q_id long, cell int, lut array<array<double>>"
    )
    # Static probe-union filter BEFORE the join: on a persisted
    # partitionBy(cell) index this isin becomes a scan-level
    # PartitionFilter, so the batch reads only the union of probed cell
    # directories — the join then fans each surviving row out to just
    # the queries that probed its cell.
    probe_union = sorted({cell for _, cell, _ in rows})
    j = index.filter(F.col("cell").isin(probe_union)).join(
        F.broadcast(luts), "cell"
    )
    return _adc_batch_topk(j, len(books), topk, id_col)


def exact_rerank_batch(
    corpus: DataFrame,
    candidates: DataFrame,
    queries: "dict[int, list[float]]",
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch refine stage → (q_id, n_id, dist, rank ≤ topk): candidate
    (q_id, n_id) pairs join the raw vectors once, the query vectors
    ride a broadcast table, and each pair is re-scored with exact
    squared L2 — |batch candidates| full-width rows read in one join
    instead of |Q| separate candidate joins."""
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        [(int(k), [float(x) for x in v]) for k, v in queries.items()],
        "q_id long, qvec array<double>",
    )
    j = (
        # distinct per (q_id, n_id): duplicate candidate pairs would
        # duplicate scored rows and burn that query's topk slots.
        candidates.select("q_id", F.col("n_id")).distinct()
        .join(corpus.select(F.col(id_col).alias("n_id"), vec_col), "n_id")
        .join(F.broadcast(qdf), "q_id")
    )
    d2 = _sq_l2(F.col(vec_col), F.col("qvec"))
    scored = j.select("q_id", "n_id", F.round(d2, 6).alias("dist"))
    return _rank_cut(scored, topk, "dist")


def semdedup_cells(
    df: DataFrame,
    threshold: float = 0.93,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) keep/drop decisions → (id, cell,
    keep): within each pre-assigned cluster CELL, a vector is dropped
    iff some LOWER-id cell-mate sits within cosine ≥ threshold — the
    semantic-duplicate policy that removes re-phrasings exact/MinHash
    dedup cannot see. The caller supplies the cell assignment
    (k-means cells, sign-octants, IVF coarse cells — anything
    deterministic); this operator is the within-cell pair scan +
    keep policy.

    Scale contract: pairs are generated ONLY inside a cell (the
    SemDeDup design point — candidates scale with Σ|cell|², never
    n²), via a cell-keyed self-join with the lower-id side reduced to
    (cell, id, vec). Cosine = sequential fold dot/norms (the
    engine-replayable array aggregate), an exact computation both
    engines run identically; the keep flag is an anti-join-style
    aggregate, one shuffle on the cell key."""
    base = df.select(
        F.col(cell_col).alias("_cell"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    )
    a = base.select(
        F.col("_cell"),
        F.col("_id").alias("_ida"),
        F.col("_v").alias("_va"),
    )
    b = base.select(
        F.col("_cell"),
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
    )
    pairs = a.join(b, "_cell").filter(F.col("_ida") < F.col("_idb"))
    cos = cosine(F.col("_va"), F.col("_vb"))
    dropped = (
        pairs.filter(cos >= F.lit(threshold))
        .select("_cell", F.col("_idb").alias("_id"))
        .distinct()
    )
    return (
        base.join(
            dropped.withColumn("_drop", F.lit(1)), ["_cell", "_id"], "left"
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_cell").alias(cell_col),
            F.when(F.col("_drop").isNull(), 1).otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )
