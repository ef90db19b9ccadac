"""The curation workload: one pass of the LLM-curation chain per shard.

A pass reads one seeded shard and runs, each stage materialised so its
time is its own:

1. ``dedup.minhash``: ``strip_markup`` → ``minhash_candidates`` (over
   ``minhash_band_rows``, Arrow-batched) → ``jaccard_verify``;
2. ``similarity.ivf_topk`` of the survivors' embeddings against
   centroids trained at set-up;
3. ``curated.write``: the deduplicated shard written as Parquet;
4. ``multimodal.decode``: one Arrow-batched PNG pixel decode
   (``image_pixel_stats``).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.operators.dedup import jaccard_verify, minhash_candidates
from from_superset_to_clickhouse_spark.operators.multimodal import image_pixel_stats
from from_superset_to_clickhouse_spark.operators.similarity import ivf_topk, train_centroids
from from_superset_to_clickhouse_spark.operators.text import strip_markup

import gen

SIZES = {
    "full": dict(docs=400, shards=3, ncells=8, nprobe=2, k=5),
    "smoke": dict(docs=120, shards=2, ncells=4, nprobe=2, k=3),
}
MIN_PAIR_RECALL = 0.95
MIN_IVF_RECALL = 0.9


class CurationOps:
    name = "curation_ops"
    setup_reps = 3
    # A cold pass takes about three warm ones (operator code generation).
    warmup = True
    # Passes are short and their stages small, so host jitter moves a
    # single pass a lot: take the medians over more of them.
    min_cycles = 4

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.z = SIZES[size]
        self.break_check = False
        self._rep = 0

    def setup(self) -> None:
        self._rep += 1
        shutil.rmtree(os.path.join(self.work, f"rep{self._rep - 1}"), ignore_errors=True)
        d = os.path.join(self.work, f"rep{self._rep}")
        rng = np.random.default_rng(self.seed)
        self.digest = gen.Digest()
        centers = rng.normal(size=(8, 32))
        self.shards = [
            gen.curation_shard(rng, self.digest, os.path.join(d, "src"), s,
                               self.z["docs"], centers=centers)
            for s in range(self.z["shards"])
        ]
        self.out_root = os.path.join(d, "curated")
        # Coarse quantizer trained once on every shard's vectors (the
        # production pattern: train on a sample, query many batches).
        vecs = self.spark.read.parquet(*[s.vecs_path for s in self.shards])
        self.centroids = train_centroids(vecs, self.z["ncells"])
        self.exact = [gen.exact_topk(s, self.z["k"]) for s in self.shards]
        self.passes = 0

    def iteration(self, run) -> None:
        spark, z = self.spark, self.z
        shard_no = self.passes % len(self.shards)
        sh = self.shards[shard_no]
        self.passes += 1
        docs = spark.read.parquet(sh.docs_path).select(
            "doc_id", strip_markup(F.col("raw")).alias("text"))

        pairs = run.query(
            "dedup.minhash",
            lambda: jaccard_verify(docs, minhash_candidates(docs), threshold=0.7),
            lambda df: [(r["id_a"], r["id_b"]) for r in df.collect()])
        found = set(pairs)
        recall = len(found & sh.dup_pairs) / max(len(sh.dup_pairs), 1)
        run.note("dedup.pair_recall", recall)
        if self.break_check:
            recall = 0.0
        run.check(recall >= MIN_PAIR_RECALL, f"near-dup pair recall {recall:.3f}")

        vecs = spark.read.parquet(sh.vecs_path)
        corpus = vecs.filter(F.col("vec_id").isin(sorted(sh.survivors)))
        queries = spark.createDataFrame(sh.queries, "vec_id long, embedding array<float>")
        got = run.query(
            "similarity.ivf_topk",
            lambda: ivf_topk(corpus, queries, k=z["k"], ncells=z["ncells"],
                             nprobe=z["nprobe"], centroids=self.centroids),
            lambda df: df.select("q_id", "n_id").collect())
        exact = self.exact[shard_no]
        hits = sum(1 for r in got if r["n_id"] in exact.get(r["q_id"], ()))
        recall = hits / max(sum(len(v) for v in exact.values()), 1)
        run.note("similarity.ivf_recall", recall)
        run.check(recall >= MIN_IVF_RECALL, f"ivf recall {recall:.3f}")

        # Every planted cluster keeps its lowest id, so dropping the higher
        # id of each verified pair leaves exactly the survivors.
        path = os.path.join(self.out_root, f"shard{shard_no}")
        curated = docs.filter(~F.col("doc_id").isin(sorted({b for _a, b in pairs})))
        run.timed("write", "curated.write",
                  lambda: curated.write.mode("overwrite").parquet(path))
        ids = set(pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist())
        run.check(ids == sh.survivors,
                  f"curated shard holds {len(ids)} docs, expected {len(sh.survivors)}")

        stats = run.query(
            "multimodal.decode",
            lambda: image_pixel_stats(spark.read.parquet(sh.images_path)),
            lambda df: df.agg(F.count("*").alias("n"), F.sum("px_sum").alias("s")).first())
        run.check((stats["n"], stats["s"]) == (sh.n_images, sh.image_px_sum),
                  f"decoded {stats['n']} images with px sum {stats['s']}")

        run.rows += sh.n_docs
        run.user_bytes += sh.doc_bytes

    def store_bytes_per_user_byte(self) -> float:
        """Bytes of every curated shard written so far per byte of those
        shards' input documents."""
        written = os.listdir(self.out_root)
        out_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(self.out_root) for f in fs)
        return out_bytes / sum(self.shards[int(d[5:])].doc_bytes for d in written)

    def files_per_partition(self) -> float:
        return 0.0
