"""Deterministic sampling and dataset splitting for training pipelines.

Everything here is HASH-BASED, not RNG-based, on purpose:

- Reproducible: the same row lands in the same split on every run, on
  any cluster size, after any repartition — `df.sample()` does not
  guarantee that (it is seeded per-partition, so a repartition reshuffles
  membership).
- Engine-agnostic: the hash is plain modular arithmetic on BIGINT, so a
  SQL oracle (or a downstream system auditing the split) reproduces
  membership bit-for-bit. No xxhash64/rand dependency.
- Leakage-safe: splitting on a STABLE KEY (doc id, user id) rather than
  a row hash keeps all rows of an entity in one split.

The hash is a fixed-parameter affine map modulo a prime — not
cryptographic, just well-mixed and overflow-safe under ANSI mode:
pmod(key, M) < M ≈ 1e6, times A ≈ 5e5 stays far below 2^63.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._exact import GRID, GRID as _QN

_M = 1_000_003      # prime modulus
_A = 514_229        # multiplier (fib prime; coprime with _M)
_B = 285_311        # offset


def hash_basis_points(key: Column) -> Column:
    """Deterministic bucket in [0, 10000) from a BIGINT key.

    SQL twin: ``((key % 1000003) * 514229 + 285311) % 1000003 % 10000``
    (keys must be non-negative for `%`/pmod to agree across engines).
    """
    return F.pmod(
        F.pmod(F.pmod(key.cast("long"), _M) * _A + _B, _M), 10000
    )


def sample_pct(df: DataFrame, key_col: str, basis_points: int) -> DataFrame:
    """Keep ~basis_points/10000 of rows, deterministically by key."""
    return df.filter(hash_basis_points(F.col(key_col)) < basis_points)


def train_test_split(
    df: DataFrame, key_col: str, train_bp: int = 8000, out_col: str = "split"
) -> DataFrame:
    """Add a 'train'/'test' column: key-stable ~train_bp/10000 split."""
    return df.withColumn(
        out_col,
        F.when(
            hash_basis_points(F.col(key_col)) < train_bp, F.lit("train")
        ).otherwise(F.lit("test")),
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates_bp: dict[str, int],
    default_bp: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep all of rare ones). ``rates_bp`` maps stratum value →
    basis points kept; strata not listed get ``default_bp``.

    The rates ride along as a broadcast dim (never a shuffle of the fact
    side); membership stays key-stable within each stratum.
    """
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(k, int(v)) for k, v in rates_bp.items()],
        f"{stratum_col} string, _rate_bp int",
    )
    return (
        df.join(F.broadcast(rates), stratum_col, "left")
        .withColumn("_rate_bp", F.coalesce(F.col("_rate_bp"), F.lit(default_bp)))
        .filter(hash_basis_points(F.col(key_col)) < F.col("_rate_bp"))
        .drop("_rate_bp")
    )


def weighted_mix(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weights_bp: dict[str, int],
    default_bp: int = 0,
) -> DataFrame:
    """Source-weighted corpus mixing: keep ~``weights_bp[g]``/10000 of
    each group's rows, deterministically by key — the data-mixing step
    that assembles a training corpus from heterogeneous sources at
    per-source rates (oversample curated sources at 10000, thin a crawl
    to 1500, drop the rest via ``default_bp=0``).

    Key-stable like every sampler here (reruns, cluster resizes and
    repartitions never change membership), and the per-group rate is
    one CASE expression — a single codegen scan, no shuffle, no join,
    replicable in ANSI SQL from the documented affine-hash formula."""
    rate = None
    for g, w in weights_bp.items():
        cond = F.col(group_col) == F.lit(g)
        rate = F.when(cond, w) if rate is None else rate.when(cond, w)
    rate = rate.otherwise(default_bp) if rate is not None else F.lit(default_bp)
    return df.filter(hash_basis_points(F.col(key_col)) < rate)


def token_budget_mix(
    df: DataFrame,
    key_col: str,
    group_col: str,
    token_col: str,
    budgets: dict[str, int],
    default_budget: int | None = None,
    buckets: int = 256,
) -> DataFrame:
    """Per-source token-budget fill: admit each group's rows in
    affine-hash order (a deterministic shuffle of the group) until the
    group's cumulative token count reaches its budget — the "mix to N
    tokens per source" recipe step, stated in tokens rather than rates.
    A group absent from ``budgets`` gets ``default_budget`` (None =
    unlimited). The row that crosses the budget is dropped, not split —
    splitting is ``token_chunks``'s job upstream.

    Scale design — a single window per group would serialize each
    source through ONE task (a 60 TB crawl source = one task), so the
    cumulative sum is two-phase, the ``pack_sequences`` trick turned
    exact: hash order is coarsened into ``buckets`` order-preserving
    ranges, (1) one aggregate computes per-(group, bucket) token
    totals — at most groups × buckets scalars reach the driver, bounded
    like centroid training — (2) the driver prefix-sums them into
    per-bucket starting offsets, broadcast-joined back, and each
    (group, bucket) window adds its local running sum. Parallelism is
    groups × buckets wide, results identical to the one-window form
    (the ANSI oracle twin replays the single-window semantics
    row-for-row)."""
    bps = hash_basis_points(F.col(key_col))
    bucket = F.floor(bps * buckets / 10000).cast("int")
    tagged = df.withColumn("_mix_bucket", bucket)

    partials = (
        tagged.groupBy(group_col, "_mix_bucket")
        .agg(F.sum(token_col).alias("_bucket_tokens"))
        .collect()
    )
    by_group: dict = {}
    for r in partials:
        by_group.setdefault(r[group_col], []).append(
            (r["_mix_bucket"], r["_bucket_tokens"])
        )
    offsets = []
    for g, lst in by_group.items():
        run = 0
        for b, tot in sorted(lst):
            offsets.append((g, b, run))
            run += tot
    spark = df.sparkSession
    g_type = df.schema[group_col].dataType.simpleString()
    off_df = spark.createDataFrame(
        offsets, f"{group_col} {g_type}, _mix_bucket int, _mix_offset long"
    )

    w = (
        Window.partitionBy(group_col, "_mix_bucket")
        .orderBy(bps, F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget = None
    for g, b in budgets.items():
        cond = F.col(group_col) == F.lit(g)
        budget = F.when(cond, b) if budget is None else budget.when(cond, b)
    budget = (
        budget.otherwise(default_budget)
        if budget is not None
        else F.lit(default_budget)
    )
    return (
        tagged.join(F.broadcast(off_df), [group_col, "_mix_bucket"])
        .withColumn(
            "_cum_tokens", F.col("_mix_offset") + F.sum(token_col).over(w)
        )
        .filter(budget.isNull() | (F.col("_cum_tokens") <= budget))
        .drop("_mix_bucket", "_mix_offset", "_cum_tokens")
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str = "doc_id",
    budget: int = 2048,
    shards: int = 64,
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins
    (greedy sequential packing) → adds ``shard``, ``bin``, ``bin_offset``.

    Documents are first scattered across ``shards`` by key hash, then
    packed in key order WITHIN each shard: a doc starts a new bin when
    the running total before it has crossed a multiple of ``budget``
    (docs longer than ``budget`` spill over their bin boundary rather
    than being split — splitting is ``token_chunks``'s job, upstream).

    Scale design: the running sum is a window per shard, so parallelism
    is ``shards``-wide and no global sort exists anywhere in the plan —
    a single global ORDER BY window would serialize 100 TB through one
    task. Membership is hash-derived, so the packing is deterministic
    and replicable in ANSI SQL (same window in any engine).
    """
    shard = F.pmod(F.pmod(F.col(id_col).cast("long"), _M) * _A + _B, _M) % shards
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("bin", F.floor(cum_before / budget).cast("int"))
        .withColumn("bin_offset", F.pmod(cum_before, F.lit(budget)).cast("int"))
    )


def quantile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    out_col: str = "tier",
) -> DataFrame:
    """Quality-tier assignment by quantile boundaries — the 100 TB
    replacement for a global-ORDER-BY ``ntile``, which serializes the
    whole table through one window task.

    Two-phase: (1) ``percentile_disc`` boundaries in ONE distributed
    aggregate (partial per partition, merged to ``n_buckets - 1``
    scalars on the driver — bounded, like centroid training); (2) tier =
    1 + count of boundaries strictly below the value, as pure codegen
    comparisons. No shuffle of the data at all — the scan stays
    partition-parallel.

    ``percentile_disc`` follows the SQL-standard definition (smallest
    value with cumulative distribution ≥ p), so any engine reproduces
    the same boundaries bit-for-bit — they are actual data values, never
    interpolated.

    Unlike ``ntile`` the bucket populations are only approximately
    equal under ties (every equal value lands in the same tier — which
    is usually what a curriculum/filtering pipeline wants anyway).
    """
    ps = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {value_col})"
            ).alias(f"b{i}")
            for i, p in enumerate(ps)
        ]
    ).collect()[0]
    tier: Column = F.lit(1)
    for b in bounds:
        tier = tier + F.when(F.col(value_col) > F.lit(b), 1).otherwise(0)
    return df.withColumn(out_col, tier.cast("int"))


def group_sample_k(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
) -> DataFrame:
    """Exactly-k-per-group deterministic sampling (eval-set assembly:
    "200 documents per language/source, reproducibly"). Admission order
    is the affine key hash (``hash_basis_points`` — the ANSI-replicable
    family, ties broken by key; repartition/insertion-order stable), so reruns and incremental rebuilds pick the
    same rows; groups smaller than k keep everything.

    One window over (group, hash): the per-group sort is the honest
    cost — bounded by group size, AQE-skew tolerant; for rate-based
    (not exact-count) needs use ``stratified_sample``, which never
    sorts."""
    w = Window.partitionBy(group_col).orderBy(
        hash_basis_points(F.col(key_col)), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    target_bp: int,
    w_ref: int | None = None,
) -> DataFrame:
    """Weighted Bernoulli sampling: keep each row with probability
    proportional to its (non-negative integer) weight —
    ``P(keep) = (target_bp / 10000) * (w / w_ref)`` with ``w_ref``
    defaulting to the corpus max weight.

    The inclusion test is PURE INTEGER arithmetic on the deterministic
    key hash: ``hash_bp(key) * w_ref < target_bp * w`` — reproducible
    bit-for-bit by any SQL engine, stable under repartitioning, and
    key-stable (an entity is in or out as a unit). This is the
    importance-sampling primitive of corpus curation: sample documents
    proportional to length/quality so the kept token mass tracks the
    target mix without a global sort or RNG state.

    Scale shape: ``w_ref`` is one MAX scalar probe (or a constant the
    caller pins for cross-run stability); the filter itself is a
    codegen'd predicate evaluated in the scan — no shuffle, no window.
    """
    if w_ref is None:
        w_ref = df.agg(
            F.max(F.col(weight_col).cast("long")).alias("m")
        ).collect()[0]["m"]
    return df.filter(
        hash_basis_points(F.col(key_col)) * F.lit(int(w_ref))
        < F.lit(int(target_bp)) * F.col(weight_col).cast("long")
    )


def shuffle_key(id_col: Column, seed: int) -> Column:
    """Deterministic per-row shuffle key: md5 of (seed ':' id). Engine-
    portable (md5 is bit-identical everywhere, unlike rand() or
    xxhash64), seed-swappable per epoch, and collision-free in practice
    per distinct id — ordering by it IS the shuffled order."""
    return F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))


def seeded_shuffle(
    df: DataFrame, id_col: str, seed: int, out_partitions: int | None = None
) -> DataFrame:
    """Deterministic global training-data shuffle — the epoch-reshuffle
    step before packing/sharding. Rows are ordered by ``shuffle_key``
    via repartitionByRange + sortWithinPartitions: a TOTAL order across
    the output files (range partition k < k+1, sorted within) with NO
    single-partition sort — the only global structure is the range
    sampling pass. Same seed → same order on any cluster layout; next
    epoch = next seed, no state carried."""
    key = shuffle_key(F.col(id_col), seed).alias("_skey")
    out = df.withColumn("_skey", key)
    n = out_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        out.repartitionByRange(n, F.col("_skey"))
        .sortWithinPartitions("_skey")
    )


def weighted_reservoir_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 7,
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme (IPL 2006, public literature):
    every row draws key = u^(1/w) from a uniform u and the k LARGEST
    keys are the sample; P(inclusion) is then exactly proportional to
    weight, without replacement, in one pass.

    The fixed-size complement of ``weighted_sample`` (Bernoulli =
    proportional but variable-size). u is a DETERMINISTIC md5-derived
    52-bit uniform (md5("seed:key") — 52 bits so the integer→double
    conversion is exact IEEE on every engine), making the sample
    reproducible bit-for-bit, stable under repartitioning, and
    SQL-replayable; keys round to 12 decimals before ordering so a
    cross-engine pow() ulp cannot flip the order, ties broken by key
    column. Top-k is an ordered LIMIT (TakeOrderedAndProject) — per-
    partition heads merge on the driver; no global sort at any scale."""
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(str(seed)), F.col(key_col).cast("string")
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 52))
    es = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 12
    )
    return (
        df.withColumn("es_key", es)
        .orderBy(F.desc("es_key"), F.col(key_col))
        .limit(k)
    )


def temperature_mix(
    df: DataFrame,
    key_col: str,
    group_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Temperature-flattened source mixing summary → (source, n_orig,
    rate_bp, n_kept, kept_frac): target share of source g ∝ n_g^α
    (α < 1 UPWEIGHTS small sources relative to their natural share —
    the multilingual/multi-source sampling standard), scaled so the
    whole mix targets ~``target_frac`` of the corpus, capped at
    keep-everything. Admission is the same key-stable affine hash as
    every sampler here, so membership is deterministic and the whole
    plan replays in SQL.

    Two aggregates over the corpus (source counts, admitted counts) +
    scalar arithmetic on the ≤-sources-sized rate table."""
    counts = df.groupBy(F.col(group_col).alias("source")).agg(
        F.count("*").alias("n_orig")
    )
    tot = counts.agg(
        F.sum("n_orig").alias("_n"),
        F.sum(F.pow(F.col("n_orig").cast("double"), alpha)).alias("_z"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_orig",
        F.least(
            F.lit(10000),
            F.floor(
                F.col("_n").cast("double")
                * float(target_frac)
                * F.pow(F.col("n_orig").cast("double"), alpha)
                / F.col("_z")
                / F.col("n_orig").cast("double")
                * 10000.0
            ).cast("int"),
        ).alias("rate_bp"),
    )
    tagged = df.select(
        F.col(group_col).alias("source"),
        hash_basis_points(F.col(key_col)).alias("_hbp"),
    ).join(F.broadcast(rates), "source")
    kept = tagged.groupBy("source", "n_orig", "rate_bp").agg(
        F.sum((F.col("_hbp") < F.col("rate_bp")).cast("long")).alias(
            "n_kept"
        )
    )
    return kept.select(
        "source",
        "n_orig",
        "rate_bp",
        "n_kept",
        F.round(
            F.col("n_kept").cast("double") / F.col("n_orig").cast("double"),
            6,
        ).alias("kept_frac"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_tokens: Column,
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) → (doc_id, n_feats,
    log_w): per-document log importance ratio Σ_b c_b·(ln p_target[b]
    − ln p_raw[b]) over ``buckets`` hashed unigram features with
    add-one smoothing — "how target-like is this raw document",
    the data-selection score that upsamples Wikipedia-like text out
    of a web crawl without a trained classifier.

    Both feature distributions come from ONE token-bucket aggregate
    each (raw = ``docs``, target = the ``target`` frame); the bucket
    log-ratio table is ≤ ``buckets`` rows and BROADCASTS to the
    per-doc scoring join. Feature hash = first 8 md5 hex digits mod
    buckets (engine-replayable); p's are exact integer ratios, so
    both engines take ln of identical doubles."""
    tok_raw = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(text_tokens).alias("_w"),
    ).select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(buckets),
        ).alias("_b"),
    )
    tok_tgt = target.select(F.explode(text_tokens).alias("_w")).select(
        F.pmod(
            F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(buckets),
        ).alias("_b")
    )
    raw_counts = tok_raw.groupBy("_b").agg(F.count("*").alias("_cr"))
    tgt_counts = tok_tgt.groupBy("_b").agg(F.count("*").alias("_ct"))
    raw_tot = raw_counts.agg(F.sum("_cr").alias("_nr"))
    tgt_tot = tgt_counts.agg(F.sum("_ct").alias("_nt"))
    ratio = (
        raw_counts.join(tgt_counts, "_b", "full")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "_b",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("_nt") + F.lit(buckets)).cast("double")
                )
                - F.log(
                    (F.coalesce(F.col("_cr"), F.lit(0)) + 1).cast("double")
                    / (F.col("_nr") + F.lit(buckets)).cast("double")
                )
            ).alias("_lr"),
        )
    )
    per_doc = tok_raw.groupBy("doc_id", "_b").agg(
        F.count("*").alias("_c")
    )
    return (
        per_doc.join(F.broadcast(ratio), "_b")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("_nf"),
            F.sum(F.col("_c") * F.col("_lr")).alias("_lw"),
        )
        .select(
            "doc_id",
            F.col("_nf").cast("long").alias("n_feats"),
            F.round("_lw", 6).alias("log_w"),
        )
    )


def dsir_resample(
    docs: DataFrame,
    target: DataFrame,
    text_tokens: Column,
    id_col: str = "doc_id",
    buckets: int = 1024,
    k: int = 100,
) -> DataFrame:
    """DSIR Gumbel-top-k resample → (rank, doc_id, n_feats, log_w,
    score): draw ``k`` docs WITHOUT replacement proportionally to
    exp(log_w) via the Gumbel-max trick with DETERMINISTIC md5 noise
    — score = log_w + (−ln(−ln u)), u = (md5(doc)+0.5)/2^32, top-k by
    score. Both engines (and reruns) draw the identical sample; the
    only corpus-scale op after scoring is an ordered LIMIT
    (TakeOrdered, no global sort)."""
    w = dsir_weights(docs, target, text_tokens, id_col, buckets)
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit("dsir"), F.col("doc_id"))),
                    1, 8,
                ),
                16, 10,
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
    )
    g = -F.log(-F.log(u))
    scored = w.select(
        "doc_id", "n_feats", "log_w",
        F.round(F.col("log_w") + g, 6).alias("score"),
    )
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
    wr = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(wr).cast("int")
    ).select("rank", "doc_id", "n_feats", "log_w", "score")


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    n_target: int,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation → one row per
    stratum (stratum, n_stratum, sd, share, alloc): n_h ∝ N_h·S_h —
    spend the sample budget where the strata are BIG and NOISY, the
    minimum-variance design for estimating the population mean from
    a fixed labeling/eval budget (vs proportional allocation, which
    ignores S_h). The planning step that decides how many docs per
    source/domain to send for human eval or quality audit.

    Per-stratum sd uses the 2^-20-grid two-pass (exact ratio →
    correctly-rounded sqrt, identical cross-engine); each N_h·S_h
    share term grid-floors before the bounded per-stratum sum;
    alloc = ⌊n·share + ½⌋ (explicit half-up — both engines round
    identically). One groupBy + one broadcast of the share total."""
    if n_target < 1:
        raise ValueError(f"n_target must be >= 1, got {n_target}")
    src = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("stratum").isNotNull())
    gm = src.groupBy("stratum").agg(
        F.count("*").alias("_nh"),
        (F.floor(F.avg("_v") * _QN) / _QN).alias("_mh"),
    )
    dev = src.join(F.broadcast(gm), "stratum")
    d = F.col("_v") - F.col("_mh")
    ss = dev.groupBy("stratum", "_nh").agg(
        (F.sum(F.floor(d * d * _QN)) / _QN).alias("_ss")
    )
    sd = F.when(
        F.col("_nh") > 1,
        F.sqrt(F.col("_ss") / (F.col("_nh") - 1.0)),
    ).otherwise(F.lit(0.0))
    term = (
        F.floor(F.col("_nh").cast("double") * sd * _QN) / _QN
    )
    w = ss.select("stratum", "_nh", sd.alias("_sd"), term.alias("_t"))
    tot = w.agg(F.sum("_t").alias("_tt"))
    j = w.crossJoin(F.broadcast(tot))
    share = F.when(
        F.col("_tt") > 0, F.col("_t") / F.col("_tt")
    ).otherwise(F.lit(0.0))
    alloc = F.floor(share * F.lit(float(n_target)) + 0.5)
    return j.select(
        "stratum",
        F.col("_nh").cast("long").alias("n_stratum"),
        F.round("_sd", 6).alias("sd"),
        F.round(share, 6).alias("share"),
        alloc.cast("long").alias("alloc"),
    )


def horvitz_thompson(
    sample: DataFrame,
    value_col: str,
    prob_col: str,
) -> DataFrame:
    """Horvitz–Thompson estimator over an unequal-probability sample →
    one row (n_sample, ht_total, ht_se): total̂ = Σ yᵢ/πᵢ and the
    Poisson-sampling variance Σ(1−πᵢ)(yᵢ/πᵢ)² — THE way to total up a
    biased sample honestly (a plain scaled mean over a size-weighted
    sample overstates whatever was oversampled). Input is the sample
    WITH its inclusion probabilities (the sampler's contract); terms
    are IEEE ratios of grid values, accumulated grid-floored in
    decimal — order-free exact."""
    q = GRID
    v = F.floor(F.col(value_col).cast("double") * q) / q
    src = sample.select(
        v.alias("_y"), F.col(prob_col).cast("double").alias("_p")
    ).filter(F.col("_y").isNotNull() & (F.col("_p") > 0))
    t = F.col("_y") / F.col("_p")
    var_term = (1.0 - F.col("_p")) * t * t
    dec = "decimal(38,0)"
    # variance terms are (value/π)²-scale — a 2^10 grid keeps the
    # floor inside the long range for price-scale totals while the
    # ≤2^-10-per-term loss stays far below the rounded output
    q10 = float(1 << 10)
    agg = src.agg(
        F.count("*").alias("_n"),
        (F.sum(F.floor(t * q).cast(dec)).cast("double") / q).alias("_t"),
        (
            F.sum(F.floor(var_term * q10).cast(dec)).cast("double")
            / q10
        ).alias("_v"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_sample"),
        F.round("_t", 6).alias("ht_total"),
        F.round(F.sqrt(F.col("_v")), 6).alias("ht_se"),
    )
