"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point at 100 TB):
- exact: one hash-groupBy on the fingerprint — single shuffle, map-side
  partial agg.
- MinHash+LSH: k-word shingles → k minhashes → band buckets →
  (band, bucket) rows → one self-join on (band, bucket) (``_band_pairs``).
  The candidate join is on bucket keys, so cost scales with collisions,
  not with n² — the standard large-scale near-dup pipeline.
- SimHash: per-bit majority vote over token hashes → 64-bit signature →
  bit-slice band buckets → the same band self-join, then an exact
  Hamming verify.
- verification: exact Jaccard / Hamming distance on candidate pairs only.

Hash families (``hash_family``), one per role; any other value raises
``ValueError``:
- ``"arrow"`` (production default): one Arrow pass over (id, text)
  batches (``_arrow_band_rows``) with md5-seeded numpy math per doc —
  universal hashing for MinHash, memoised per-token bit votes packed
  into one long for SimHash.
- ``"md5"`` (the oracle twin): Catalyst expressions over md5 hex
  strings, which a DuckDB oracle recomputes value for value. Every
  expensive intermediate (shingle array, signature array) is bound once
  per row via ``let_bind`` — Catalyst CSE does not reach inside
  higher-order-function lambdas, so naive banding re-evaluates the
  whole signature per band.
Both families feed the same ``_band_pairs`` join, so the oracle entries
check the join production runs.

NULL text: MinHash treats it as the empty text, whose shingle set is
``{""}``, so NULL and empty docs pair with each other in every band.
SimHash emits no band rows for NULL text, so a NULL doc pairs with
nothing; an empty text is the all-zero signature.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark import StorageLevel

from from_superset_to_clickhouse_spark.functions.scalar import _spread, let_bind
from from_superset_to_clickhouse_spark.operators._arrow import map_batches, row_udf
from from_superset_to_clickhouse_spark.operators.text import (
    TOKEN_SPLIT_RE,
    canonical_url,
    soundex_expr,
    word_ngrams,
    word_tokens,
)


def _persisted(df: DataFrame) -> DataFrame:
    """Persist an intermediate that the plan consumes more than once
    (both sides of a self-join, candidates + verify). Without this,
    Spark re-runs the whole signature pipeline per consumer — measured
    ~2× the operator's wall-time. MEMORY_AND_DISK spills under pressure.
    Payloads are signatures/buckets (tens of bytes per row), not
    document text — bounded at any corpus scale.

    LIFECYCLE: callers MUST pair this with ``_finalize`` — ``persist``
    registers the plan in the session CacheManager, which holds a strong
    reference; Spark's ContextCleaner reclaims GC'd RDDs and broadcasts
    but NOT SQL cache entries, so a dangling persist leaks storage
    blocks on every call for the life of the session."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _finalize(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Run ``result``'s plan NOW and release every persisted intermediate.

    The (small — candidate pairs only) result is materialized with an
    eager ``localCheckpoint``, whose blocks are plain RDD blocks that the
    ContextCleaner DOES reclaim once the returned DataFrame is
    garbage-collected; the intermediates are then unpersisted so nothing
    accumulates in the session CacheManager across calls (a long-lived
    session would otherwise leak |docs|×bands rows per invocation)."""
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def _check_family(hash_family: str) -> None:
    if hash_family not in ("arrow", "md5"):
        raise ValueError(
            f"hash_family must be 'arrow' or 'md5', got {hash_family!r}"
        )


def _band_pairs(banded: DataFrame, *extra: Column) -> DataFrame:
    """The LSH blocking join: one (id_a, id_b, *extra) row per band in
    which two docs of ``banded`` (doc, band, bucket, ...) share a
    bucket, id_a < id_b — callers count the rows or de-duplicate them.
    ``extra`` columns read the two sides as ``l.*`` and ``r.*``. A hash
    join on (band, bucket): cost scales with bucket collisions, not n²."""
    l, r = banded.alias("l"), banded.alias("r")
    return l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l.doc") < F.col("r.doc")),
    ).select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"), *extra)


def _md5_u64(s: str) -> int:
    """The first 8 bytes of md5(s) as a little-endian uint64 — stable
    across processes, unlike Python ``hash``."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


def _arrow_band_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_bands: int,
    kernel,
    columns: "tuple[str, ...]",
) -> DataFrame:
    """(doc, band, *columns) rows from one ``mapInArrow`` pass over
    (id, text) batches — the doc loop both Arrow LSH kernels share.

    ``kernel()`` runs once per Python worker and returns the per-doc
    function: the doc's word tokens (split on ``TOKEN_SPLIT_RE`` like
    ``word_tokens``; None for NULL text) → one ``n_bands``-long uint64
    array per name in ``columns``, or None to emit no rows for the doc.
    Values are emitted as int64 (the same 64 bits). A few-partition
    source is spread first: the Python stage scales with input
    partitions."""
    import numpy as np

    id_type = dict(df.dtypes)[id_col]
    schema = ", ".join(
        [f"doc {id_type}", "band int"] + [f"{c} bigint" for c in columns]
    )

    def gen(batches):
        import re

        split = re.compile(TOKEN_SPLIT_RE).split
        doc_fn = kernel()
        for batch in batches:
            keep, outs = [], []
            for i, text in enumerate(batch.column(1).to_pylist()):
                toks = None if text is None else [
                    t for t in split(text.lower()) if t
                ]
                out = doc_fn(toks)
                if out is not None:
                    keep.append(i)
                    outs.append(out)
            if not keep:
                continue
            frame = {
                "doc": batch.column(0).take(np.repeat(keep, n_bands)),
                "band": np.tile(np.arange(n_bands, dtype=np.int32), len(keep)),
            }
            for j, c in enumerate(columns):
                frame[c] = np.concatenate([o[j] for o in outs]).view(np.int64)
            yield frame

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    return map_batches(src, gen, schema, spread=True)


def normalize_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest-id row per normalized-text fingerprint.

    Returns the deduplicated rows. One shuffle on the 128-bit fingerprint;
    at 100 TB the min-by aggregation is partial-aggregated map-side so the
    shuffle carries one row per (fingerprint, map partition).
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.groupBy(fp.alias("_fp"))
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_row"))
        .select("_row.*")
    )


def _shingle_grams(text: Column, k: int) -> Column:
    """The k-word grams of ``text``, or the whole token string as the
    one shingle when it has fewer than k tokens (array<string>, not
    de-duplicated). A NULL text has no tokens, so its shingle is ""."""
    return let_bind(
        word_tokens(text),
        lambda toks: let_bind(word_ngrams(toks, k), lambda g: F.when(
            F.size(g) > 0, g
        ).otherwise(F.array(F.concat_ws(" ", toks)))),
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingle set as array<long> (xxhash64 of each shingle).

    Hashing shingles to 64-bit ints immediately keeps the row payload
    small — we never shuffle raw shingle strings. The token array is
    let-bound so tokenization runs once per row, not once per shingle.
    """
    return F.array_distinct(
        F.transform(_shingle_grams(text, k), lambda s: F.xxhash64(s))
    )


def shingle_strings(text: Column, k: int = 3) -> Column:
    """Raw k-word shingle strings (array<string>) — the oracle-replicable
    shingle form: no hash at the leaf, so an ANSI-SQL engine sees exactly
    the same values. Production paths prefer ``shingles`` (xxhash64),
    which never shuffles raw strings."""
    return F.array_distinct(_shingle_grams(text, k))


def minhash_signature_md5(shingle_col: Column, num_hashes: int = 64) -> Column:
    """Oracle-replicable minhash (array<string>): hash i of shingle s is
    ``md5('i:s')`` and the minhash is the LEXICOGRAPHIC minimum of the
    hex strings — md5 hex is identical in every engine, so a DuckDB
    oracle can recompute the exact signature. ~32-byte values and a
    slower leaf hash: this family exists for the correctness gate; the
    Arrow family (``_minhash_banded_vectorized``) is the production
    default."""
    return let_bind(
        shingle_col,
        lambda sh: F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(
                F.transform(
                    sh,
                    lambda s: F.md5(F.concat_ws(":", i.cast("string"), s)),
                )
            ),
        ),
    )


def band_buckets_md5(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band buckets for the md5 family: ``md5(join(slice, ','))`` —
    string-for-string replicable in ANSI SQL, unlike ``F.hash``."""
    return let_bind(
        sig,
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.md5(
                F.concat_ws(",", F.slice(s, b * rows_per_band + 1, rows_per_band))
            ),
        ),
    )


def _minhash_banded_vectorized(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    seed: int = 11,
) -> DataFrame:
    """(doc, band, bucket) rows via Arrow batches: md5 per distinct
    shingle → base uint64, then the classic universal family
    ``h_i(x) = a_i * x + b_i (mod 2^64)`` gives all ``num_hashes``
    minhashes as ONE numpy broadcast-multiply + column-min per doc —
    versus O(num_hashes × shingles) codegen lambda evaluations per row
    in an expression family. Band buckets mix the r hashes of each
    band with fixed odd multipliers (wraparound is fine: it only needs
    to be a deterministic injection up to negligible collisions, and
    every candidate pair is exact-verified downstream anyway). Shingles
    match ``shingle_strings``; a NULL text is the shingle ""."""
    r = num_hashes // bands

    def kernel():
        import numpy as np

        rs = np.random.RandomState(seed)
        A = (rs.randint(0, 2**62, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
        B = rs.randint(0, 2**62, size=num_hashes).astype(np.uint64)
        M = (rs.randint(0, 2**62, size=r).astype(np.uint64) << np.uint64(1)) | np.uint64(1)

        def doc(toks):
            toks = toks or []
            if len(toks) >= shingle_k:
                sh = {
                    " ".join(toks[i : i + shingle_k])
                    for i in range(len(toks) - shingle_k + 1)
                }
            else:
                sh = {" ".join(toks)}
            base = np.fromiter(
                (_md5_u64(s) for s in sh), dtype=np.uint64, count=len(sh)
            )
            sig = (base[:, None] * A[None, :] + B[None, :]).min(axis=0)
            return ((sig.reshape(bands, r) * M).sum(axis=1),)

        return doc

    return _arrow_band_rows(df, text_col, id_col, bands, kernel, ("bucket",))


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_family: str = "arrow",
) -> DataFrame:
    """The LSH INDEX representation: (doc, band, bucket) rows — what a
    store persists so later batches can dedup against the corpus without
    recomputing its signatures (see
    ``minhash_candidates_incremental``). ~bands rows × tens of bytes per
    document at any corpus scale.

    ``hash_family``: "arrow" (production default — vectorized universal
    hashing, one broadcast-multiply + min per doc) or "md5"
    (ANSI-replicable hex-string family so an external SQL oracle can
    recompute the identical signatures and buckets). Both families read
    a NULL text as the empty text, whose one shingle is "", so NULL and
    empty docs share a bucket in every band.
    """
    _check_family(hash_family)
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if hash_family == "arrow":
        return _minhash_banded_vectorized(
            df, text_col, id_col, num_hashes, bands, shingle_k
        )
    sig = minhash_signature_md5(
        shingle_strings(F.col(text_col), shingle_k), num_hashes
    )
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(band_buckets_md5(sig, bands, num_hashes // bands)).alias(
            "band", "bucket"
        ),
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_family: str = "arrow",
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b, n_shared_bands).

    rows-per-band r = num_hashes/bands; docs sharing any band bucket are
    candidates. The self-join is on (band, bucket_hash) — a hash join on
    a well-distributed key, no n² blowup. Returns distinct pairs with the
    number of shared bands (a cheap similarity proxy). Hash families per
    ``minhash_band_rows``.
    """
    banded = _persisted(
        minhash_band_rows(
            df, text_col, id_col, num_hashes, bands, shingle_k, hash_family
        )
    )
    pairs = (
        _band_pairs(banded)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return _finalize(pairs, banded)


def minhash_candidates_incremental(
    new_band_rows: DataFrame, index: DataFrame
) -> DataFrame:
    """Dedup a NEW batch against an already-indexed corpus — the daily
    production flow: candidates = (new × index) ∪ (new × new), never
    index × index, so each day's cost is O(|new| × bucket collisions)
    no matter how large the accumulated corpus is.

    ``new_band_rows`` is the new batch's ``minhash_band_rows`` output;
    ``index`` holds the band rows of every PREVIOUS batch (ids must be
    disjoint from the new batch — same contract as any append-only
    index). After the run, append ``new_band_rows`` to the index.
    Pair ids are normalized (id_a < id_b) so results are identical to
    running ``minhash_candidates`` over the union corpus.
    """
    nb = _persisted(new_band_rows)
    n, i = nb.alias("n"), index.alias("i")
    cross = n.join(
        i,
        (F.col("n.band") == F.col("i.band"))
        & (F.col("n.bucket") == F.col("i.bucket")),
    ).select(
        F.least(F.col("n.doc"), F.col("i.doc")).alias("id_a"),
        F.greatest(F.col("n.doc"), F.col("i.doc")).alias("id_b"),
    )
    pairs = (
        cross.unionByName(_band_pairs(nb))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return _finalize(pairs, nb)


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (id_a, id_b, jaccard).

    Joining the (small) candidate set back to the corpus twice keeps the
    expensive set-intersection off the full n² space.
    """
    sh = _persisted(
        df.select(
            F.col(id_col).alias("_jid"),
            shingles(F.col(text_col), shingle_k).alias("_jsh"),
        )
    )
    a = sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_jsh", "sh_a")
    b = sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_jsh", "sh_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    verified = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _finalize(verified, sh)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "arrow",
) -> DataFrame:
    """Near-dup pairs above a Jaccard threshold: LSH candidates → exact verify."""
    cand = minhash_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k, hash_family
    )
    return jaccard_verify(df, cand, text_col, id_col, threshold, shingle_k)


def _simhash_banded_vectorized(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int,
    band_bits: int,
) -> DataFrame:
    """(doc, band, sig, bucket) rows via Arrow batches: one md5 per
    token (stable across processes, unlike Python ``hash``), numpy bit
    votes, signature packed into ONE int64. A NULL text emits no rows,
    as in the md5 twin.

    Why this beats a Catalyst expression family at scale: that path
    evaluates a 64-lambda ``zip_with`` per token (measured ~6 s for 5 k
    docs at sf0.1); here the vote matrix is two numpy ops per doc, and —
    because the signature is a packed long, not an array — the
    downstream Hamming verify becomes ``bit_count(sig_a ^ sig_b)``,
    whole-stage-codegen JVM bit math instead of a 64-element array
    aggregate. Band buckets are plain bit-slices of the packed long."""
    n_bands = bits // band_bits

    def kernel():
        from collections import Counter

        import numpy as np

        shifts = np.arange(bits, dtype=np.uint64)
        band_shift = np.arange(n_bands, dtype=np.uint64) * np.uint64(band_bits)
        mask = np.uint64((1 << band_bits) - 1)
        # Worker-local memo: token → ±1 bit-vote row. Natural-language
        # corpora have heavy token reuse (Zipf), so the md5+unpack cost
        # collapses from O(total tokens) to O(distinct vocabulary seen
        # by this worker); votes are then counts @ memo rows.
        vote_rows: dict[str, object] = {}

        def vote_row(tok: str):
            v = vote_rows.get(tok)
            if v is None:
                h = np.uint64(_md5_u64(tok))
                v = (2 * ((h >> shifts) & np.uint64(1)).astype(np.int64) - 1)
                vote_rows[tok] = v
            return v

        def doc(toks):
            if toks is None:
                return None
            counts = Counter(toks)
            if not counts:
                sig = np.uint64(0)
            else:
                rows = np.stack([vote_row(t) for t in counts])
                w = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
                sigbits = ((w @ rows) > 0).astype(np.uint64)
                sig = np.bitwise_or.reduce(sigbits << shifts)
            return (
                np.full(n_bands, sig, dtype=np.uint64),
                (sig >> band_shift) & mask,
            )

        return doc

    return _arrow_band_rows(
        df, text_col, id_col, n_bands, kernel, ("sig", "bucket")
    )


def simhash_bits_md5(text: Column, bits: int = 64) -> Column:
    """Oracle-replicable SimHash bits (array<int>): the vote for bit j
    uses the top bit of ``md5('j:token')`` (first hex digit in 8..f) —
    one independent md5 per (bit, token), trivially identical in ANSI
    SQL. O(bits) md5 calls per token, so this is the correctness-gate
    twin; the Arrow family (``_simhash_banded_vectorized``) is the
    production default. Returned as a bit array rather than a packed
    long, which avoids 64-bit overflow handling under ANSI mode."""
    toks = word_tokens(text)
    msb_digits = ("8", "9", "a", "b", "c", "d", "e", "f")
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda a, j: a
            + F.when(
                F.substring(
                    F.md5(F.concat_ws(":", j.cast("string"), t)), 1, 1
                ).isin(*msb_digits),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    return F.transform(votes, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0)))


def hamming(bits_a: Column, bits_b: Column) -> Column:
    """Hamming distance between two equal-length bit arrays."""
    return F.aggregate(
        F.zip_with(bits_a, bits_b, lambda a, b: F.abs(a - b)),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    band_bits: int = 16,
    max_hamming: int = 3,
    hash_family: str = "arrow",
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) within a Hamming radius.

    Classic SimHash blocking: docs within Hamming distance (bits/band_bits
    - 1) share at least one exact band (pigeonhole), so the candidate join
    on (band, bucket) has perfect recall for ``max_hamming`` ≤ bands-1.
    Candidates are then verified with an exact Hamming distance on the
    materialized signatures — no n² stage anywhere. With the arrow
    family the candidates are exactly ``simhash_dedup_candidates``.

    ``hash_family``: "arrow" (production default — vectorized votes +
    packed-long signatures, Hamming via JVM ``bit_count``) or "md5"
    (ANSI-replicable — an external SQL oracle can recompute the
    identical bits and buckets). Neither pairs a NULL text.
    """
    _check_family(hash_family)
    if hash_family == "arrow":
        banded = _simhash_banded_vectorized(df, text_col, id_col, bits, band_bits)
        dist = F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig")))
    else:
        sigs = df.select(
            F.col(id_col).alias("doc"),
            simhash_bits_md5(F.col(text_col), bits).alias("sig"),
        )
        buckets = let_bind(F.col("sig"), lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(bits // band_bits - 1)),
            lambda i: F.md5(F.concat_ws("", F.transform(
                F.slice(s, i * band_bits + 1, band_bits),
                lambda v: v.cast("string"),
            ))),
        ))
        banded = sigs.select(
            "doc", "sig", F.posexplode(buckets).alias("band", "bucket")
        )
        dist = hamming(F.col("l.sig"), F.col("r.sig"))
    banded = _persisted(banded)
    pairs = (
        _band_pairs(banded, dist.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _finalize(pairs, banded)


def simhash_dedup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    bits: int = 64,
) -> DataFrame:
    """Candidates only: distinct pairs sharing ≥1 SimHash band bucket.

    The blocking stage of ``simhash_pairs`` (arrow family) without the
    exact Hamming verify — use it when a downstream stage (e.g. an exact
    Jaccard) does its own verification and the Hamming pass would be
    wasted work. Every ``simhash_pairs`` pair is a candidate.
    """
    banded = _persisted(
        _simhash_banded_vectorized(df, text_col, id_col, bits, band_bits)
    )
    return _finalize(_band_pairs(banded).distinct(), banded)


def _levenshtein_verify(
    cand: DataFrame, left: DataFrame, right: DataFrame, max_dist: int
) -> DataFrame:
    """Exact verify of candidate pairs (id_a, id_b) → (id_a, id_b, dist)
    with Levenshtein dist ≤ ``max_dist``; ``left`` and ``right`` are
    (id, string) frames for the a and b sides. Only ids cross the
    candidate shuffle: full strings re-attach here, for candidates only."""
    return (
        cand.join(left.toDF("id_a", "_sa"), "id_a")
        .join(right.toDF("id_b", "_sb"), "id_b")
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def segment_keys(
text: Column, segments: int) -> Column:
    """Pigeonhole blocking keys: cut the string into ``segments``
    contiguous slices (slice i covers [floor(L*i/g), floor(L*(i+1)/g))
    of an L-char string) and emit (slice index, slice text) structs.
    Two same-length strings within Hamming distance d share at least
    g-d intact slices (d substitutions corrupt at most d of g), so a
    join on slice equality is a COMPLETE candidate generator for
    substitution-only typos — the classic PartEnum/pigeonhole scheme."""
    L = F.length(text)
    out = []
    for i in range(segments):
        start = (F.floor(L * F.lit(i) / F.lit(segments)) + 1).cast("int")
        end = F.floor(L * F.lit(i + 1) / F.lit(segments)).cast("int")
        out.append(
            F.struct(
                F.lit(i).alias("seg"),
                F.substring(text, start, end - start + 1).alias("key"),
            )
        )
    return F.array(*out)


def fuzzy_pairs_pigeonhole(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    segments: int | None = None,
) -> DataFrame:
    """Blocked fuzzy matcher: same-length string pairs within Levenshtein
    distance ``max_dist``, without the n² all-pairs join.

    Prefer ``fuzzy_pairs`` (symmetric-delete) for max_dist ≤ 2: it is
    complete for FULL Levenshtein (insertions included) and its blocks
    stay output-linear where pigeonhole blocks degenerate on strings
    with long shared constant regions (e.g. zero-padded IDs — every row
    lands in one block for the constant segment). This variant remains
    the right tool for LONG strings, where the delete-neighborhood key
    count (≈ L^d per row) is the thing that blows up instead.

    Candidates come from a self-join on pigeonhole segment keys
    (``segment_keys``): with g segments (default max_dist+1), two
    same-length strings within Hamming distance d share ≥ g-d segments,
    so the join keeps exactly the pairs with at least that many shared
    (seg, slice, length) keys — COMPLETE for substitution-only typos
    (the record-linkage case: IDs, names, codes with a corrupted
    character), candidate-recall heuristic for general Levenshtein
    (an insert+delete pair can shift every segment; such same-length
    pairs may be missed — documented operating envelope, like LSH
    recall). Survivors are verified with exact ``levenshtein`` ≤ d,
    so false candidates cost compute only, never a wrong pair.

    Scale shape: the join is on (seg, slice, length) hash keys — cost
    scales with block collisions, not n². Strings with a long shared
    constant prefix (e.g. zero-padded IDs) put everyone in one block
    for that segment; raise ``segments`` above max_dist+1 (the
    shared-count filter tightens to g-d) or strip the constant prefix
    first. Only ids and slices cross the candidate shuffle; full
    strings are re-attached for the verify join on survivors only.
    """
    g = segments or (max_dist + 1)
    need = g - max_dist
    e = df.select(F.col(id_col).alias("_fid"), F.col(text_col).alias("_fs"))
    seg = e.select(
        "_fid",
        F.length("_fs").alias("_ln"),
        F.explode(segment_keys(F.col("_fs"), g)).alias("_sg"),
    ).select(
        "_fid", "_ln",
        F.col("_sg.seg").alias("_seg"),
        F.col("_sg.key").alias("_key"),
    )
    a, b = seg.alias("a"), seg.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._seg") == F.col("b._seg"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._ln") == F.col("b._ln"))
            & (F.col("a._fid") < F.col("b._fid")),
        )
        # shared-segment count: dedups multi-segment collisions AND
        # enforces the tighter g-d pigeonhole bound when g > d+1
        .groupBy(
            F.col("a._fid").alias("id_a"), F.col("b._fid").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= need)
        .select("id_a", "id_b")
    )
    return _levenshtein_verify(cand, e, e, max_dist)


def _ranked_sets(
    df: DataFrame, id_col: str, set_col: str, threshold: float
) -> "tuple[DataFrame, DataFrame]":
    """The prefix-filter prologue: (base, ranked), both persisted for
    the caller's ``_finalize``. ``ranked`` holds per id (``_pid``) its
    distinct elements sorted rarest first by (document frequency,
    element) (``_stoks``), their count (``_sz``) and the prefix of
    length |S| - ceil(t·|S|) + 1 (``_pre``). Two shuffles: explode +
    count, then re-aggregate per id."""
    base = _persisted(
        df.select(
            F.col(id_col).alias("_pid"),
            F.array_distinct(F.col(set_col)).alias("_pset"),
        )
    )
    tok = base.select("_pid", F.explode("_pset").alias("_tok"))
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    ranked = _persisted(
        tok.join(freq, "_tok")
        .groupBy("_pid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_tok")))
            ).alias("_rs")
        )
        .select(
            "_pid",
            F.transform("_rs", lambda s: s["_tok"]).alias("_stoks"),
        )
        .withColumn("_sz", F.size("_stoks"))
        .withColumn(
            "_pre",
            F.slice(
                "_stoks",
                F.lit(1),
                F.col("_sz")
                - F.ceil(F.lit(threshold) * F.col("_sz")).cast("int")
                + 1,
            ),
        )
    )
    return base, ranked


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join on element sets via prefix
    filtering (the AllPairs/PPJoin family) — same answer as the n²
    all-pairs join, without ever forming it.

    Elements are globally ordered by (document frequency, element) —
    rarest first — and each set only indexes its PREFIX of length
    |S| - ceil(t·|S|) + 1. Two sets with J ≥ t must overlap in
    ≥ ceil(t·max(|A|,|B|)) elements, and by the pigeonhole prefix
    theorem their prefixes under any shared total order must then share
    at least one element — so a self-join on prefix elements plus the
    size bound t·|A| ≤ |B| ≤ |A|/t is a COMPLETE candidate generator,
    and the exact Jaccard verify on survivors makes the operator exact,
    not approximate (unlike MinHash/SimHash, which trade recall).

    Scale shape: two shuffles build the frequency-ranked sets (explode +
    count, then re-aggregate per id); the candidate join is on single
    prefix elements — rare elements by construction, so blocks stay
    small where the data allows (the rarest-first order is exactly what
    shrinks prefixes' selectivity); the verify join re-attaches full
    sorted sets for surviving pairs only. Positional and suffix filters
    (PPJoin+) would tighten candidates further; prefix + size filtering
    is the load-bearing pruning.
    """
    base, ranked = _ranked_sets(df, id_col, set_col, threshold)
    pre = ranked.select("_pid", "_sz", F.explode("_pre").alias("_tok"))
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col("a._pid") < F.col("b._pid"))
            & (F.col("a._sz") * F.lit(threshold) <= F.col("b._sz"))
            & (F.col("b._sz") * F.lit(threshold) <= F.col("a._sz")),
        )
        .select(F.col("a._pid").alias("id_a"), F.col("b._pid").alias("id_b"))
        .distinct()
    )
    sa = ranked.select(F.col("_pid").alias("id_a"), F.col("_stoks").alias("_ta"))
    sb = ranked.select(F.col("_pid").alias("id_b"), F.col("_stoks").alias("_tb"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_ta", "_tb"))
                / F.greatest(F.size(F.array_union("_ta", "_tb")), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _finalize(out, base, ranked)


def delete_variants(text: Column, max_deletes: int) -> Column:
    """Symmetric-delete neighborhood (SymSpell): the string itself plus
    every variant reachable by deleting up to ``max_deletes`` single
    characters (array<string>, deduped). The completeness theorem:
    lev(A, B) ≤ d  ⇒  some ≤d-delete variant of A equals some
    ≤d-delete variant of B — each edit is simulated by one deletion on
    one or both sides — so equality on variants is a COMPLETE blocking
    key for full Levenshtein (substitutions, insertions, deletions
    alike). Variant count is 1 + L (+ C(L,2) at d=2): linear/quadratic
    in STRING length, not corpus size — the right trade for short
    strings (IDs, names, titles); use the pigeonhole matcher for long
    text. Only d ∈ {1, 2} is supported."""
    if max_deletes not in (1, 2):
        raise ValueError("delete_variants supports max_deletes 1 or 2")

    def del1(s, i):
        # s minus char i (1-based)
        return F.concat(
            F.substring(s, F.lit(1), i - 1),
            F.substring(s, i + 1, F.length(s)),
        )

    L = F.length(text)
    parts = [F.array(text)]
    parts.append(
        F.when(
            L >= 1,
            F.transform(F.sequence(F.lit(1), L), lambda i: del1(text, i)),
        ).otherwise(F.array().cast("array<string>"))
    )
    if max_deletes == 2:
        # delete chars i < j in one expression (avoids re-scanning the
        # d=1 variants): s[1..i-1] + s[i+1..j-1] + s[j+1..]
        parts.append(
            F.when(
                L >= 2,
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), L - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, L),
                            lambda j: F.concat(
                                F.substring(text, F.lit(1), i - 1),
                                F.substring(text, i + 1, j - i - 1),
                                F.substring(text, j + 1, F.length(text)),
                            ),
                        ),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
    return F.array_distinct(F.concat(*parts))


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy matcher: ALL string pairs within Levenshtein distance
    ``max_dist`` (1 or 2) — exact, and never the n² all-pairs join.

    Blocking is the symmetric-delete scheme (``delete_variants``): two
    strings within distance d always share a ≤d-delete variant, so a
    self-join on variant equality is a complete candidate generator,
    and exact ``levenshtein`` on survivors makes the result exact.
    Unlike segment/pigeonhole blocking this is robust to shared
    constant regions (zero-padded IDs put every row in one pigeonhole
    block; a delete variant still carries the WHOLE discriminating
    remainder, so block size tracks the number of true near-matches).

    Scale shape: the exploded key relation is n·(L+1) rows at d=1
    (n·O(L²) at d=2) of id + short string; the join is a hash join on
    variant equality with a length band (|len_a - len_b| ≤ d) folded
    into the key match; only ids cross the candidate shuffle and full
    strings re-attach for the verify join on survivors. For long
    strings (L ≳ 100) prefer ``fuzzy_pairs_pigeonhole`` or shingle
    methods — the neighborhood size is the explosion there.
    """
    e = df.select(F.col(id_col).alias("_fid"), F.col(text_col).alias("_fs"))
    keys = e.select(
        "_fid",
        F.length("_fs").alias("_ln"),
        F.explode(delete_variants(F.col("_fs"), max_dist)).alias("_key"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._key") == F.col("b._key"))
            & (F.col("a._fid") < F.col("b._fid"))
            & (
                F.abs(F.col("a._ln") - F.col("b._ln")) <= F.lit(max_dist)
            ),
        )
        .select(F.col("a._fid").alias("id_a"), F.col("b._fid").alias("id_b"))
        .distinct()
    )
    return _levenshtein_verify(cand, e, e, max_dist)


def containment_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT asymmetric containment self-join: ordered pairs (a, b),
    a ≠ b, where |A ∩ B| / |A| ≥ t — "document a is substantially
    contained in document b", the excerpt/quote-dedup primitive (a
    Jaccard threshold misses a short doc swallowed by a long one: the
    union is dominated by the long side).

    Prefix filtering, asymmetric form: under any global element order,
    ≥ ceil(t·|A|) shared elements cannot all hide in A's last
    ceil(t·|A|)-1 positions, so A's prefix of length |A|-ceil(t·|A|)+1
    must intersect B — joining A-prefixes against B's FULL posting list
    (the inverted-index side) is a complete candidate generator, and
    exact intersection on survivors makes the operator exact. The
    rarest-first order keeps A-prefix probes on the small posting
    lists. No size bound applies (b may be arbitrarily larger — that
    is the point); the b-side full explode is the inverted index, the
    standard trade for containment search.
    """
    base, ranked = _ranked_sets(df, id_col, set_col, threshold)
    pre_a = ranked.select(
        F.col("_pid").alias("id_a"), F.explode("_pre").alias("_tok")
    )
    post_b = ranked.select(
        F.col("_pid").alias("id_b"), F.explode("_stoks").alias("_tok")
    )
    cand = (
        pre_a.join(
            post_b,
            (pre_a["_tok"] == post_b["_tok"]) & (F.col("id_a") != F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = ranked.select(
        F.col("_pid").alias("id_a"),
        F.col("_stoks").alias("_ta"),
        F.col("_sz").alias("_sza"),
    )
    sb = ranked.select(F.col("_pid").alias("id_b"), F.col("_stoks").alias("_tb"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("_ta", "_tb"))
                / F.greatest(F.col("_sza"), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return _finalize(out, base, ranked)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_text: str,
    right_id: str,
    right_text: str,
    max_dist: int = 1,
) -> DataFrame:
    """Two-table fuzzy matcher (record linkage): every (left, right) pair
    within Levenshtein distance ``max_dist`` (1 or 2) — linking noisy
    strings (user input, OCR, corrupted feeds) to a canonical dimension
    without the |L|×|R| cross join. Same symmetric-delete blocking and
    completeness argument as ``fuzzy_pairs`` (the self-join case), with
    candidates from variant equality across the two sides and exact
    ``levenshtein`` verification. → (left_id, right_id, dist)."""
    lkeys = left.select(
        F.col(left_id).alias("_lid"),
        F.length(left_text).alias("_lln"),
        F.explode(delete_variants(F.col(left_text), max_dist)).alias("_key"),
    )
    rkeys = right.select(
        F.col(right_id).alias("_rid"),
        F.length(right_text).alias("_rln"),
        F.explode(delete_variants(F.col(right_text), max_dist)).alias("_key"),
    )
    cand = (
        lkeys.join(
            rkeys,
            (lkeys["_key"] == rkeys["_key"])
            & (F.abs(F.col("_lln") - F.col("_rln")) <= F.lit(max_dist)),
        )
        .select(F.col("_lid").alias("id_a"), F.col("_rid").alias("id_b"))
        .distinct()
    )
    return _levenshtein_verify(
        cand,
        left.select(left_id, left_text),
        right.select(right_id, right_text),
        max_dist,
    ).toDF(left_id, right_id, "dist")


def phonetic_blocked_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_edit: int = 2,
) -> DataFrame:
    """Entity-resolution candidate pairs via phonetic blocking →
    (id_a, id_b, name_a, name_b, code, edit_dist): names sharing an
    American Soundex code are compared with exact Levenshtein and
    kept at distance 1..max_edit (0 = identical strings — those are
    exact-dedup's job, excluded here).

    The blocking join is keyed on the phonetic code, so candidate
    fan-out is Σ|block|² — vocabulary-bounded, never corpus n²; this
    is the classic cheap recall filter in front of an expensive
    verifier (same architecture as the SymSpell and prefix-filter
    joins in this module). Pairs are canonicalized a < b on id."""
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        soundex_expr(F.col(name_col)).alias("code"),
    ).filter(F.col("code").isNotNull())
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.code") == F.col("b.code"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._name").alias("name_a"),
            F.col("b._name").alias("name_b"),
            F.col("a.code").alias("code"),
            F.levenshtein(F.col("a._name"), F.col("b._name")).alias(
                "edit_dist"
            ),
        )
        .filter(
            (F.col("edit_dist") >= 1) & (F.col("edit_dist") <= max_edit)
        )
    )


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Canonical Jaro–Winkler (p = 0.1, boost threshold 0.7, prefix
    cap 4) — the exact variant DuckDB's jaro_winkler_similarity and
    the record-linkage literature use, so an oracle can replay scores
    with its built-in. Greedy window matching: each s1 char claims the
    first unclaimed equal s2 char within ⌊max/2⌋−1; transpositions =
    half the order mismatches among matched chars."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m2 = [False] * l2
    m1 = [False] * l1
    m = 0
    for i, c in enumerate(s1):
        lo = i - window
        if lo < 0:
            lo = 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3
    if jaro > 0.7:
        p = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            p += 1
        jaro = jaro + p * 0.1 * (1 - jaro)
    return jaro


def jaro_winkler_col(s1: Column, s2: Column) -> Column:
    """Vectorized (Arrow-batched) Jaro–Winkler similarity column.
    Character-level greedy alignment is inherently per-pair CPU work
    with data-dependent control flow — the sanctioned Python boundary
    (same rationale as the codecs); batches cross once per task, no
    row-at-a-time pickling."""
    return row_udf(_jaro_winkler_py, "double")(s1, s2)


def jaro_winkler_link(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: "list[str]",
    threshold: float = 0.8,
) -> DataFrame:
    """Blocked fuzzy record linkage on Jaro–Winkler similarity →
    (id_1, id_2, name_1, name_2, jw): candidate pairs come from an
    equi-join on the blocking key (never all-pairs — cost scales with
    block sizes, the record-linkage standard), each pair scored once,
    kept when jw ≥ threshold. Pair order is canonical (id_1 < id_2).
    Scores are emitted through floor(x*1e6+0.5)/1e6 so engines that
    order the float ops differently in the last ulp still agree at
    6 dp."""
    cols = [F.col(id_col).alias("_id"), F.col(name_col).alias("_nm")] + [
        F.col(c) for c in block_cols
    ]
    side = df.select(*cols)
    a = side.select(
        *[F.col(c) for c in block_cols],
        F.col("_id").alias("id_1"),
        F.col("_nm").alias("name_1"),
    )
    b = side.select(
        *[F.col(c) for c in block_cols],
        F.col("_id").alias("id_2"),
        F.col("_nm").alias("name_2"),
    )
    pairs = a.join(b, block_cols).filter(F.col("id_1") < F.col("id_2"))
    jw = jaro_winkler_col(F.col("name_1"), F.col("name_2"))
    return (
        pairs.withColumn("jw", F.floor(jw * 1e6 + 0.5) / 1e6)
        .filter(F.col("jw") >= threshold)
        .select("id_1", "id_2", "name_1", "name_2", "jw")
    )


def levenshtein_link(
    df: DataFrame,
    name_col: str,
    block_col: Column,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked exact edit-distance linkage → (name_a, name_b, dist):
    distinct names paired WITHIN a blocking key (pass e.g. the last
    token, a phonetic code, or a length band as ``block_col``), kept
    when levenshtein ≤ ``max_dist``. The built-in JVM ``levenshtein``
    is the classic DP — identical by definition in any engine that
    ships it, so the pair table replays verbatim in SQL.

    Scale shape: the quadratic expansion is per-block (Σ|block|²),
    never corpus-wide; names collapse to DISTINCT before pairing so
    row frequency doesn't multiply the join."""
    names = df.select(
        F.col(name_col).alias("_name"), block_col.alias("_blk")
    ).distinct()
    a = names.select(F.col("_name").alias("name_a"), "_blk")
    b = names.select(F.col("_name").alias("name_b"), "_blk")
    return (
        a.join(b, "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def url_snapshot_dedup(
    df: DataFrame,
    url_col: str,
    snap_col: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-snapshot URL dedup → one row per input doc (id, url_canon,
    snapshot, sim_to_latest, keep): the recrawl-pipeline primitive —
    when the same canonical URL appears in multiple crawl snapshots,
    keep the LATEST capture always, and keep an older capture only if
    its content actually changed (estimated MinHash Jaccard against
    the latest < ``threshold``). Unchanged recrawls are the single
    biggest duplicate source in multi-snapshot web corpora; naive
    URL-only dedup would also drop real content updates.

    Scale shape: signatures are one map-side pass per doc
    (``minhash_signature_md5`` — the oracle-replayable md5 family);
    the latest capture per canonical URL comes from one max-snapshot
    aggregate joined back (never a window over the corpus), and each
    older doc compares against exactly ONE signature — candidates are
    O(docs), never pairs. Similarity = fraction of equal signature
    positions (the standard unbiased Jaccard estimator), an exact
    ratio of integer counts."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = shingle_strings(F.col(text_col), 3)
    # the signature pass is the dominant cost: spread it first
    df = _spread(df)
    # persisted: the signature table feeds BOTH the latest-capture
    # reference aggregate and the scoring join — without it Spark
    # re-runs the full md5 pipeline per consumer (measured ~2× wall)
    base = _persisted(
        df.select(
            F.col(id_col).alias("_id"),
            canonical_url(F.col(url_col)).alias("url_canon"),
            F.col(snap_col).cast("long").alias("snapshot"),
            minhash_signature_md5(sh, num_hashes).alias("_sig"),
        )
    )
    latest = base.groupBy("url_canon").agg(
        F.max("snapshot").alias("_latest")
    )
    ref = (
        base.join(latest, "url_canon")
        .filter(F.col("snapshot") == F.col("_latest"))
        # deterministic representative if several docs share the
        # latest snapshot for one URL: smallest id wins
        .groupBy("url_canon", "_latest")
        .agg(F.min(F.struct("_id", "_sig")).alias("_r"))
        .select(
            "url_canon",
            "_latest",
            F.col("_r._id").alias("_ref_id"),
            F.col("_r._sig").alias("_ref_sig"),
        )
    )
    # plain shuffle equi-join on url_canon: ref carries one row (and a
    # num_hashes-element signature) per DISTINCT canonical URL, which is
    # corpus-scale in the multi-snapshot recrawl case — never broadcast it.
    joined = base.join(ref.hint("shuffle_hash"), "url_canon")
    eq = F.size(
        F.filter(
            F.zip_with(
                F.col("_sig"), F.col("_ref_sig"), lambda a, b: a == b
            ),
            lambda x: x,
        )
    )
    sim = eq.cast("double") / F.lit(float(num_hashes))
    is_ref = F.col("_id") == F.col("_ref_id")
    keep = is_ref | (sim < threshold)
    out = joined.select(
        F.col("_id").alias(id_col),
        "url_canon",
        "snapshot",
        F.round(F.when(is_ref, F.lit(1.0)).otherwise(sim), 6).alias(
            "sim_to_latest"
        ),
        keep.alias("keep"),
    )
    return _finalize(out, base)


def fellegi_sunter(
    records: DataFrame,
    candidates: DataFrame,
    id_col: str,
    field_cols: "list[str]",
    m: float = 0.95,
) -> DataFrame:
    """Fellegi–Sunter record-linkage scores → (id_a, id_b, n_agree,
    score): for each candidate pair, the sum of per-field log
    likelihood ratios — agreement on field k contributes
    ln(m_k/u_k), disagreement ln((1−m_k)/(1−u_k)) — the probabilistic
    decision model (Fellegi & Sunter 1969) that weights agreement on
    a RARE value (low u) far above agreement on a common one.

    u_k (P(agree | non-match)) is estimated from the data itself as
    the collision probability of two random records, Σ_v (f_v/n)² —
    one exact integer-ratio aggregate per field; m_k (P(agree |
    match)) is the caller's prior, scalar ``m`` by default (labeled
    pairs to EM-fit m are rarely available in a dedup pipeline —
    documented contract). Candidates come from any blocker
    (``minhash_candidates``, ``fuzzy_join``, a key block): this
    operator never generates pairs, so its cost is O(candidates) +
    two broadcast-scale field-frequency aggregates — at 100 TB the
    heavy lifting stays in the blocking stage."""
    n_df = records.agg(F.count("*").alias("_n"))
    u_parts = []
    for f in field_cols:
        freq = records.groupBy(F.col(f)).agg(F.count("*").alias("_c"))
        u = freq.crossJoin(F.broadcast(n_df)).agg(
            (
                F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c"))
                .cast("double")
                / (
                    F.max("_n").cast("double")
                    * F.max("_n").cast("double")
                )
            ).alias(f"_u_{f}")
        )
        u_parts.append(u)
    us = u_parts[0]
    for u in u_parts[1:]:
        us = us.crossJoin(u)
    a = records.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f).alias(f"_a_{f}") for f in field_cols],
    )
    b = records.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f).alias(f"_b_{f}") for f in field_cols],
    )
    pairs = (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .crossJoin(F.broadcast(us))
    )
    mm = float(m)
    score = F.lit(0.0)
    agree_n = F.lit(0)
    for f in field_cols:
        ag = F.col(f"_a_{f}").eqNullSafe(F.col(f"_b_{f}"))
        uk = F.col(f"_u_{f}")
        score = score + F.when(
            ag, F.log(F.lit(mm) / uk)
        ).otherwise(F.log(F.lit(1.0 - mm) / (F.lit(1.0) - uk)))
        agree_n = agree_n + ag.cast("int")
    return pairs.select(
        "id_a",
        "id_b",
        agree_n.alias("n_agree"),
        F.round(score, 6).alias("score"),
    )
