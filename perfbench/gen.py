"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy/pyarrow: inputs are written as Parquet
files during untimed setup, and the engine only ever sees those files.
The same seed always yields the same inputs (``Digest`` hashes the
generated arrays, not their Parquet encoding).

The properties the engine's behaviour depends on are explicit knobs:

- Zipf-skewed ``user_id`` / ``dashboard_id`` (hot keys in ``latest_view``
  aggregation and dictionary enrichment);
- ``resend_share``: the share of a batch that re-sends ids already sent
  earlier in the same month, so compaction has real duplicates to fold;
- ``user_updates``: ``ab_user`` rows whose ``changed_on`` moves each day;
- planted near-duplicate documents and clustered embeddings for the
  curation corpus.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc)
ACTIONS = np.array(
    ["log", "explore_json", "dashboard", "welcome", "sql_json",
     "csv", "annotation_json", "queries"]
)
ACTION_P = np.array([0.30, 0.22, 0.16, 0.10, 0.08, 0.06, 0.05, 0.03])
REFERRERS = ("http://bi/superset/welcome", "http://bi/dashboard/list")  # or NULL


def month_start(m: int) -> dt.datetime:
    """First instant of month ``m`` counted from ``EPOCH``."""
    y, mo = divmod(EPOCH.month - 1 + m, 12)
    return EPOCH.replace(year=EPOCH.year + y, month=mo + 1)


def us(t: dt.datetime) -> int:
    return int(t.timestamp() * 1_000_000)


class Digest:
    """Running checksum of every generated array, recorded in the artifact."""

    def __init__(self):
        self._h = hashlib.sha256()

    def add(self, *arrays) -> None:
        for a in arrays:
            a = np.asarray(a)
            if a.dtype.kind in "OU":
                self._h.update("\x1f".join(map(str, a.tolist())).encode())
            else:
                self._h.update(np.ascontiguousarray(a).tobytes())

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def zipf_sampler(rng: np.random.Generator, universe: int, s: float = 1.1):
    """Bounded Zipf over ids 1..universe; the rank→id map is a seeded
    permutation so hot ids are not simply the smallest ones."""
    p = 1.0 / np.arange(1, universe + 1) ** s
    p /= p.sum()
    ids = rng.permutation(universe) + 1

    def draw(n: int) -> np.ndarray:
        return ids[rng.choice(universe, size=n, p=p)].astype(np.int32)

    return draw


def write_parquet(path: str, cols: dict) -> int:
    """Write one Parquet file; returns its size in bytes (the user bytes
    the benchmark charges storage against)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def ts_array(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us", tz="UTC"))


@dataclass
class StarClock:
    """The Superset star (``logs`` fact, ``ab_user`` and ``dashboards``
    dims) on a simulated clock, written batch by batch.

    Ids are dense and increasing; a batch may re-send a share of its rows
    with ids sent earlier in the same batch and a later ``dttm`` (a newer
    version of the same event, landing in the same month partition)."""

    rng: np.random.Generator
    digest: Digest
    n_users: int
    n_dash: int
    next_id: int = 1
    next_user: int = 1
    next_dash: int = 1
    max_dttm_us: int = 0

    def __post_init__(self):
        self._user = zipf_sampler(self.rng, self.n_users)
        self._dash = zipf_sampler(self.rng, self.n_dash)

    def logs(self, path: str, n: int, t0: dt.datetime, t1: dt.datetime,
             resend_share: float = 0.0) -> dict:
        """One ``logs`` batch with event times in [t0, t1), ``resend_share``
        of it re-sent ids. Returns its row count, new (distinct) ids and
        file bytes."""
        rng = self.rng
        n_resend = int(n * resend_share)
        n_new = n - n_resend
        new_ids = np.arange(self.next_id, self.next_id + n_new, dtype=np.int32)
        self.next_id += n_new
        lo, hi = us(t0), us(t1)
        # Originals occupy the first 80% of the window so every re-send
        # (same id, later time) still falls inside [t0, t1).
        span = int((hi - lo) * 0.8)
        dttm_new = lo + rng.integers(0, span, n_new)
        pick = rng.integers(0, n_new, n_resend)
        ids = np.concatenate([new_ids, new_ids[pick]])
        dttm = np.concatenate(
            [dttm_new, dttm_new[pick] + rng.integers(1, hi - lo - span, n_resend)]
        )
        action = ACTIONS[rng.choice(len(ACTIONS), n, p=ACTION_P)]
        user_id = self._user(n)
        dash_id = self._dash(n)
        slice_id = rng.integers(1, 5000, n).astype(np.int32)
        duration = rng.integers(1, 30_000, n).astype(np.int32)
        ref_i = rng.integers(0, len(REFERRERS) + 1, n)
        self.digest.add(ids, dttm, action, user_id, dash_id, slice_id, duration, ref_i)
        referrer = pa.array(
            [REFERRERS[r] if r < len(REFERRERS) else None for r in ref_i], type=pa.string()
        )
        size = write_parquet(path, {
            "id": pa.array(ids, pa.int32()),
            "action": pa.array(action, pa.string()),
            "user_id": pa.array(user_id, pa.int32()),
            "json": pa.array([f'{{"slice": {s}}}' for s in slice_id.tolist()]),
            "dttm": ts_array(dttm),
            "dashboard_id": pa.array(dash_id, pa.int32()),
            "slice_id": pa.array(slice_id, pa.int32()),
            "duration_ms": pa.array(duration, pa.int32()),
            "referrer": referrer,
        })
        self.max_dttm_us = max(self.max_dttm_us, int(dttm.max()))
        return {"rows": n, "new_ids": n_new, "bytes": size}

    def users(self, path: str, n_new: int, n_updates: int, t: dt.datetime) -> dict:
        """``ab_user`` batch: ``n_new`` new users plus ``n_updates``
        existing users whose ``changed_on`` moves to ``t``."""
        rng = self.rng
        new = np.arange(self.next_user, self.next_user + n_new, dtype=np.int32)
        self.next_user += n_new
        pool = np.arange(1, new[0] if n_new else self.next_user, dtype=np.int32)
        upd = rng.choice(pool, size=min(n_updates, len(pool)), replace=False)
        ids = np.concatenate([new, upd]).astype(np.int32)
        changed = us(t) + rng.integers(0, 3_600_000_000, len(ids))
        active = rng.random(len(ids)) < 0.8
        logins = rng.integers(0, 500, len(ids)).astype(np.int32)
        self.digest.add(ids, changed, active, logins)
        size = write_parquet(path, {
            "id": pa.array(ids, pa.int32()),
            "first_name": pa.array([f"f{i}" for i in ids.tolist()]),
            "last_name": pa.array([f"l{i}" for i in ids.tolist()]),
            "username": pa.array([f"user{i}" for i in ids.tolist()]),
            "password": pa.array([None] * len(ids), pa.string()),
            "active": pa.array(active),
            "email": pa.array([f"user{i}@bi.example" for i in ids.tolist()]),
            "login_count": pa.array(logins, pa.int32()),
            "fail_login_count": pa.array(np.zeros(len(ids), np.int32)),
            "created_on": ts_array(np.full(len(ids), us(EPOCH))),
            "changed_on": ts_array(changed),
            "created_by_fk": pa.array(np.ones(len(ids), np.int32)),
            "changed_by_fk": pa.array(np.ones(len(ids), np.int32)),
        })
        return {"rows": len(ids), "bytes": size}

    def dashboards(self, n_new: int, n_updates: int, t: dt.datetime) -> dict:
        """``dashboards`` rows as column lists (the MERGE source is small
        and built in memory): ``n_updates`` existing ids with a new
        title and ``n_new`` fresh ids."""
        rng = self.rng
        upd = (
            rng.choice(self.next_dash - 1, size=n_updates, replace=False) + 1
            if n_updates else np.zeros(0, np.int64)
        )
        new = np.arange(self.next_dash, self.next_dash + n_new)
        self.next_dash += n_new
        ids = np.concatenate([upd, new]).astype(np.int32)
        salt = rng.integers(0, 1 << 30, len(ids))
        self.digest.add(ids, salt)
        when = us(t)
        cols = {
            "created_on": [when] * len(ids),
            "changed_on": [when] * len(ids),
            "id": ids.tolist(),
            "dashboard_title": [f"dash {i} v{s}" for i, s in zip(ids.tolist(), salt.tolist())],
            "position_json": ["{}"] * len(ids),
            "created_by_fk": [1] * len(ids),
            "changed_by_fk": [1] * len(ids),
            "css": [""] * len(ids),
            "description": [f"d{s}" for s in salt.tolist()],
            "slug": [f"d{i}" for i in ids.tolist()],
            "json_metadata": ["{}"] * len(ids),
            "published": [bool(s & 1) for s in salt.tolist()],
            "uuid": [f"00000000-0000-0000-0000-{i:012d}" for i in ids.tolist()],
            "certified_by": [""] * len(ids),
            "certification_details": [""] * len(ids),
            "is_managed_externally": [False] * len(ids),
            "external_url": [""] * len(ids),
        }
        return {"cols": cols, "updates": len(upd), "inserts": len(new)}


# -- curation corpus -------------------------------------------------------

_SYLLABLES = [c + v for c in "bcdfgklmnprstvz" for v in "aeiou"]
IVF_QUERIES = 12
IMAGES = 24


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, k)))
    return np.array(sorted(words))


@dataclass
class Shard:
    """One curation shard: documents, embeddings, images and the answers
    each verification needs."""

    docs_path: str
    vecs_path: str
    images_path: str
    n_docs: int
    doc_bytes: int
    survivors: set       # doc ids left after near-dup removal
    dup_pairs: set       # planted (id_a, id_b) near-dup pairs, id_a < id_b
    queries: list        # [(q_id, vector)] for ivf_topk
    vectors: dict        # doc id → embedding (the exact top-k reference)
    image_px_sum: int    # Σ pixel values over all images
    n_images: int


def curation_shard(
    rng: np.random.Generator, digest: Digest, root: str, shard: int,
    n_docs: int, centers: np.ndarray,
) -> Shard:
    """Documents 1..n_docs (offset by shard) of 90 Zipf-drawn words, ~12%
    of them planted near-duplicate copies of other documents (2 word edits
    in 90), with embeddings drawn around the rows of ``centers``."""
    vocab = _vocab(rng, 2500)
    wp = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    wp /= wp.sum()
    base = shard * 1_000_000
    texts: dict[int, str] = {}
    dup_pairs = set()
    clusters: dict[int, list[int]] = {}   # original doc id → [it, its copies]
    n_orig = int(n_docs * 0.88)
    words_by_id: dict[int, list[str]] = {}
    for j in range(n_orig):
        did = base + j + 1
        words_by_id[did] = list(rng.choice(vocab, 90, p=wp))
        texts[did] = " ".join(words_by_id[did])
    planted_for = [int(x) for x in rng.choice(sorted(texts), n_docs - n_orig, replace=True)]
    for j, src in enumerate(planted_for):
        did = base + n_orig + j + 1
        w = list(words_by_id[src])
        for pos in rng.choice(90, 2, replace=False):
            w[pos] = str(rng.choice(vocab))
        texts[did] = " ".join(w)
        clusters.setdefault(src, [src]).append(did)
    for members in clusters.values():
        members = sorted(members)
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                dup_pairs.add((members[a], members[b]))
    survivors = set(texts) - {d for m in clusters.values() for d in sorted(m)[1:]}

    ids = np.array(sorted(texts), dtype=np.int64)
    raw = [f"<p>{texts[i]}</p> <b>&amp;</b>" for i in ids.tolist()]
    digest.add(ids, np.array(raw, dtype=object))
    docs_path = os.path.join(root, f"shard{shard}", "docs.parquet")
    doc_bytes = write_parquet(docs_path, {
        "doc_id": pa.array(ids, pa.int64()), "raw": pa.array(raw, pa.string()),
    })

    dim = centers.shape[1]
    lab = rng.integers(0, len(centers), len(ids))
    vecs = (centers[lab] + 0.25 * rng.normal(size=(len(ids), dim))).astype(np.float32)
    qlab = rng.integers(0, len(centers), IVF_QUERIES)
    qv = (centers[qlab] + 0.25 * rng.normal(size=(IVF_QUERIES, dim))).astype(np.float32)
    digest.add(vecs, qv)
    vecs_path = os.path.join(root, f"shard{shard}", "vecs.parquet")
    write_parquet(vecs_path, {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    queries = [(9_000_000_000 + shard * 1000 + i, qv[i].tolist()) for i in range(IVF_QUERIES)]

    from from_superset_to_clickhouse_spark.operators.multimodal import encode_png

    sizes = rng.integers(16, 48, (IMAGES, 2))
    payloads, px_sum = [], 0
    for w, h in sizes.tolist():
        payloads.append(encode_png(w, h, filter_type=int(rng.integers(0, 5))))
        x = np.arange(w)[None, :] + np.arange(h)[:, None]
        px_sum += int((x % 256).sum())
    digest.add(sizes)
    images_path = os.path.join(root, f"shard{shard}", "images.parquet")
    write_parquet(images_path, {
        "media_id": pa.array(np.arange(IMAGES) + base, pa.int64()),
        "payload": pa.array(payloads, pa.binary()),
    })
    return Shard(
        docs_path, vecs_path, images_path, len(ids), doc_bytes,
        survivors, dup_pairs, queries, dict(zip(ids.tolist(), vecs)),
        px_sum, IMAGES,
    )


def exact_topk(shard: Shard, k: int) -> dict:
    """Exact cosine top-k of every query over the shard's survivors
    (ties to the lower id) → {q_id: {n_id, ...}}."""
    ids = np.array(sorted(shard.survivors))
    m = np.stack([shard.vectors[i] for i in ids]).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = {}
    for qid, q in shard.queries:
        q = np.asarray(q, np.float64)
        sims = m @ (q / np.linalg.norm(q))
        order = np.lexsort((ids, -sims))[:k]
        out[qid] = set(ids[order].tolist())
    return out
