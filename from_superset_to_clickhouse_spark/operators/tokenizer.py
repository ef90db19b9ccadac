"""Real byte-pair-encoding tokenization: learn merges on a bounded
sample, apply them distributed.

``bpe_token_count`` in ``operators/text.py`` is the vocabulary-free
piece-count lower bound; this module is the real thing — an actual
greedy BPE (Sennrich et al. 2016, the word-internal variant GPT-2's
tokenizer derives from) so token budgets, packing and per-source token
accounting can run against the SAME vocabulary the downstream trainer
uses.

Scale design:

- **Learning is sample-bounded, application is distributed.** Learning
  BPE exactly over a 100 TB corpus would take one pair-count shuffle per
  merge (thousands of sequential shuffles); every production tokenizer
  is instead trained on a bounded sample, and the merge list is tiny
  (~100 kB for 50k merges). ``learn_bpe`` therefore aggregates word
  frequencies DISTRIBUTED (one hash aggregate, capped by ``max_words``
  most frequent word forms — word-frequency mass is Zipfian, so the tail
  it drops is vanishing), collects only that bounded (word, count) table,
  and runs the merge loop driver-side on counts, not raw text.
- **Application is one Arrow-batched ``mapInArrow`` pass.** The merge
  table is a plain broadcast dict (rank lookup); each executor tokenizes
  its batches independently — embarrassingly parallel, no shuffle. This
  is the sanctioned Python crossing: per-token merge loops are exactly
  what Catalyst expressions cannot express.
- Deterministic: ties in pair frequency break lexicographically, so the
  learned merge list is reproducible run-to-run and cluster-size-
  independent (the sample is frequency-aggregated, not row-sampled).

Reference parity: the reference stores text opaque (see
``v2/sql/create_tables.sql``); tokenization is LLM-pipeline extension
surface (BASELINE.json north star).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._arrow import map_batches
from .text import word_tokens

# End-of-word sentinel: keeps merges word-internal and makes detokenize
# lossless for the normalized word stream.
EOW = "</w>"


def _word_freqs_local(words_counts: list[tuple[str, int]]) -> Counter:
    return Counter(dict(words_counts))


def learn_bpe(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus → ordered merge
    list. Distributed word-frequency aggregate (one shuffle), bounded
    collect of the ``max_words`` most frequent forms, then the classic
    greedy pair-merge loop over (symbol-sequence, count) pairs.
    """
    wf = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(max_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["w"]) + (EOW,): r["c"] for r in wf
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # max count, ties to the lexicographically smallest pair
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        merged = "".join(best)
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if (
                    i + 1 < len(sym)
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Tokenize ONE word with a rank table: repeatedly merge the
    lowest-rank adjacent pair — the exact apply rule of GPT-2-style
    tokenizers."""
    sym = list(word) + [EOW]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge list distributed → (id, n_tokens, tokens).

    One Arrow-batched ``mapInArrow`` pass; the merge table rides the
    closure as a broadcast-sized dict (~16 B/merge). Tokens join back
    losslessly: ``''.join(tokens).replace(EOW, ' ')`` reconstructs the
    normalized word stream (tested property).
    """
    ranks = {pair: i for i, pair in enumerate(merges)}
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("n_tokens", T.IntegerType(), False),
            T.StructField("tokens", T.ArrayType(T.StringType()), False),
        ]
    )
    src = df.select(
        F.col(id_col).cast("long").alias("id"),
        word_tokens(F.col(text_col)).alias("words"),
    )

    def run(batches):
        cache: dict[str, list[str]] = {}
        for batch in batches:
            toks = []
            for words in batch.column(1).to_pylist():
                out: list[str] = []
                for w in words or ():  # NULL text: no words
                    t = cache.get(w)
                    if t is None:
                        t = encode_word(w, ranks)
                        cache[w] = t
                    out.extend(t)
                toks.append(out)
            yield {
                "id": batch.column(0),
                "n_tokens": [len(t) for t in toks],
                "tokens": toks,
            }

    return map_batches(src, run, schema)
