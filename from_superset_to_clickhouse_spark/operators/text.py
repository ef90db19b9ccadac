"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is Catalyst expressions (whole-stage codegen; no
Python UDFs): token counting, quality scoring, deterministic language-ID
by marker-word scoring, and content fingerprinting. Designed for the
``documents`` table (doc_id, text, lang, source, n_chars) but generic
over any string column.

The reference stores text payloads opaque (``v2/sql/create_tables.sql:7``);
these operators are the extension surface a 100 TB document pipeline
needs on top of that (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.functions.scalar import _spread, let_bind
from from_superset_to_clickhouse_spark.operators._arrow import row_udf

# Marker words per language for the deterministic stopword heuristic.
# Scoring = occurrence count of each whitespace-delimited marker word;
# zh is scored by CJK-codepoint count instead (Chinese is not written
# with spaces, so word markers can never fire — the round-1 'zh' list
# was Latin pinyin that never occurs in Chinese text, VERDICT.md r1
# item 3). Language with the max score wins, ties resolve in dict
# order, and an all-zero score row is classified 'unknown'. Marker sets
# are chosen to be disjoint across languages (no shared 'la'/'de').
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "was", "with"),
    "es": ("el", "los", "las", "una", "es"),
    "fr": ("le", "les", "des", "une", "est"),
    "de": ("der", "die", "und", "ist", "nicht"),
}

# CJK unified ideographs — presence of any is a strong zh signal.
CJK_RANGE = "一-鿿"
LANG_UNKNOWN = "unknown"

_PUNCT_RE = r"[.,;:!?]"
# Word-token separator on lowercased text: ``word_tokens`` splits on it
# in Catalyst and the dedup Arrow kernels with Python ``re`` (the two
# regex dialects agree on this class).
TOKEN_SPLIT_RE = r"[^a-z0-9']+"


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def word_tokens(text: Column) -> Column:
    """BPE-ish word tokens: lowercase alnum runs (array<string>)."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE), lambda x: x != F.lit("")
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array in order, each the ``n`` tokens
    joined by one space (array<string>, not de-duplicated); empty when
    the array has fewer than ``n`` tokens or is NULL. ``toks`` is
    let-bound, so a ``word_tokens`` expression passed in is evaluated
    once per row, not once per gram."""
    return let_bind(toks, lambda t: let_bind(F.size(t), lambda m: F.when(
        m >= n,
        F.transform(
            F.sequence(F.lit(0), m - n),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))))


def occurrence_count(text: Column, needle: str) -> Column:
    """Count of non-overlapping occurrences of ``needle`` in ``text``
    (length-difference trick — identical semantics in ANSI SQL, used by
    the DuckDB oracles)."""
    n = len(needle)
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(n)
    ).cast("int")


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scores: length, tokens, punctuation density,
    mean token length, uppercase ratio. All codegen'd expressions."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.length(F.regexp_replace(t, f"[^{'.,;:!?'}]", ""))
    n_upper = F.length(F.regexp_replace(t, "[^A-Z]", ""))
    return df.select(
        *df.columns,
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("q_punct_ratio"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4).alias("q_chars_per_token"),
        F.round(n_upper / F.greatest(n_chars, F.lit(1)), 6).alias("q_upper_ratio"),
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker score per language: stopword occurrences for Latin-script
    languages, CJK codepoint count for zh. Pure string expressions —
    replicable verbatim in ANSI SQL for the DuckDB oracle."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            c = occurrence_count(padded, f" {m} ")
            s = c if s is None else s + c
        scores[lang] = s
    scores["zh"] = F.length(F.regexp_replace(text, f"[^{CJK_RANGE}]", ""))
    return scores


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Deterministic language-ID: argmax marker score, first-wins ties,
    ``unknown`` when no marker fires at all."""
    scores = lang_scores(F.col(text_col))
    langs = list(scores)
    # array argmax, NOT a greatest + when-chain: the chain re-inlines
    # every marker-score subtree ~7× and the fused Generate stage blew
    # janino's 64 KB method limit under lang_segments' explode (silent
    # interpreted fallback). array_position returns the FIRST maximal
    # entry, so tie semantics (first language in dict order) and every
    # integer score are unchanged.
    arr = F.array(*[scores[l].cast("int") for l in langs])
    lang_lit = F.array(*[F.lit(l) for l in langs])
    best = F.array_max(arr)
    pred = F.element_at(lang_lit, F.array_position(arr, best).cast("int"))
    return df.withColumn(out_col, F.when(best > 0, pred).otherwise(F.lit(LANG_UNKNOWN)))


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text.

    md5 is bit-identical across engines (oracle-checkable), deterministic,
    and cheap; for pure-Spark near-dup pipelines ``xxhash64`` is faster.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, F.md5(norm))


# Karp-Rabin parameters. B=31 keeps the fold's intermediate product under
# 2^36 (acc < M ≈ 2^31, ×31 + codepoint), so the bigint arithmetic never
# overflows under ANSI mode on either engine.
ROLLHASH_BASE = 31
ROLLHASH_MOD = (1 << 31) - 1


def rolling_fingerprint(
    text: Column, base: int = ROLLHASH_BASE, mod: int = ROLLHASH_MOD
) -> Column:
    """Polynomial rolling hash (Karp-Rabin) of the normalized text.

    ``h = foldl(c → (h·B + codepoint(c)) mod M, 0, chars)`` over the
    whitespace-collapsed lowercase text — the incremental-hash primitive
    behind shingling/rolling-dedup (SURVEY §7.2 item 11; reference has no
    analog — LLM-pipeline extension). Pure codegen (`aggregate` over a
    char array), no UDF; the DuckDB oracle twin is ``list_reduce`` over
    ``unicode(substr(..))`` codepoints, bit-identical by construction.
    """
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    # Java's split("") can emit a trailing "" element; drop empties so the
    # char list has exactly length(norm) entries (what the oracle folds).
    chars = F.filter(F.split(norm, ""), lambda c: F.length(c) > 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )


# GPT-2-style pretokenizer pieces: contractions, space-prefixed letter /
# digit runs, space-prefixed punctuation runs. No lookarounds, so the
# identical pattern runs under Java regex (Spark) and RE2 (DuckDB) —
# the oracle twin is len(regexp_extract_all(text, PAT)).
BPE_PIECE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_token_count(text: Column) -> Column:
    """Approximate BPE token count: number of pretokenizer pieces.

    Real BPE splits pieces further by merge rank (vocabulary-dependent);
    the piece count is the vocabulary-free lower bound used for corpus
    sizing/budgeting. Pure codegen expression — no tokenizer library on
    the hot path.
    """
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PIECE_RE), F.lit(0)))


# Deterministic sentiment lexicon (tiny, illustrative — swap for a real
# lexicon table at production scale and broadcast-join it instead).
POSITIVE_WORDS: tuple[str, ...] = ("good", "great", "excellent", "love", "best")
NEGATIVE_WORDS: tuple[str, ...] = ("bad", "poor", "terrible", "hate", "worst")


def sentiment_score(text: Column) -> Column:
    """Lexicon polarity in [-1, 1]: (pos − neg) / (pos + neg), 0.0 when
    no lexicon word occurs. Same occurrence-count trick as ``lang_scores``
    — fully ANSI-replicable. Quirk shared with the oracle: immediately
    repeated words count once (" good good " holds one non-overlapping
    " good " match)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    pos = None
    for w in POSITIVE_WORDS:
        c = occurrence_count(padded, f" {w} ")
        pos = c if pos is None else pos + c
    neg = None
    for w in NEGATIVE_WORDS:
        c = occurrence_count(padded, f" {w} ")
        neg = c if neg is None else neg + c
    return F.round(
        F.when(pos + neg == 0, F.lit(0.0)).otherwise(
            (pos - neg) / (pos + neg).cast("double")
        ),
        6,
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document → (doc_id, term, tf, df_docs,
    tfidf, rank).

    tf = in-document term frequency, idf = ln(N / df) with exact N and
    document frequency (no smoothing — keeps the oracle twin a plain
    SQL aggregation). Ties rank alphabetically for determinism.

    Shape at scale: one explode + two hash aggregations; the vocabulary
    stats dim (one row per distinct term — orders of magnitude smaller
    than the (doc, term) side) is broadcast so the big tf side keeps its
    partitioning instead of reshuffling on term; the window is
    per-document (small groups). No driver-side vocabulary.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(doc_freq), "term")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_docs")), 6
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df_docs", "tfidf", "rank")
    )


def token_chunks(
    df: DataFrame,
    chunk_size: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size token chunks for training
    sequences → (doc_id, chunk_id, n_tokens, chunk_text).

    The pre-tokenization step of a training-data pipeline: documents
    become ≤``chunk_size``-token windows (no overlap; last chunk is the
    remainder) that a downstream packer/tokenizer consumes. Everything
    is Catalyst array expressions — the token array is bound once per
    row (``let_bind``), chunk extraction is ``slice`` on the bound
    array, and ``posexplode`` emits one row per chunk. One narrow
    projection + explode: no shuffle, no UDF, linear in corpus size.
    """
    chunks = let_bind(
        word_tokens(F.col(text_col)),
        lambda toks: let_bind(F.size(toks), lambda n: F.transform(
            # ceil(n / chunk_size) chunk starts; empty docs get 0 chunks.
            F.sequence(
                F.lit(0),
                F.floor(F.greatest(n - 1, F.lit(0)) / F.lit(chunk_size))
                .cast("int"),
            ),
            lambda i: F.slice(toks, i * chunk_size + 1, chunk_size),
        )),
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(chunks).alias("chunk_id", "_toks"),
        )
        .filter(F.size("_toks") > 0)
        .select(
            "doc_id",
            "chunk_id",
            F.size("_toks").alias("n_tokens"),
            F.concat_ws(" ", "_toks").alias("chunk_text"),
        )
    )


def sentence_chunks(
    df: DataFrame,
    n_sent: int = 3,
    overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-aware overlapping chunking for retrieval/RAG →
    (doc_id, chunk_id, n_sent_chunk, chunk_text): sentences split on
    ``[.!?]+\\s+`` (punctuation consumed — lookbehind is off-limits,
    RE2 engines can't replay it), windows of ``n_sent`` sentences
    starting every ``n_sent − overlap``; the last window starts at the
    final stride position that still reaches new material, so every
    sentence is covered exactly once by a window head. The chunking
    most retrieval stacks feed their embedder — fixed-token windows
    (``token_chunks``) cut mid-thought; sentence windows keep units
    intact and the overlap keeps cross-boundary context queryable.

    Pure Catalyst: one regexp split bound once per row, window starts
    as a ``sequence`` + ``slice`` transform, ``posexplode`` to rows —
    no shuffle, no UDF, linear in corpus size."""
    if not 0 <= overlap < n_sent:
        raise ValueError("need 0 <= overlap < n_sent")
    stride = n_sent - overlap
    chunks = let_bind(
        F.filter(
            F.split(F.col(text_col), r"[.!?]+\s+"), lambda x: x != ""
        ),
        lambda sents: let_bind(F.size(sents), lambda n: F.when(
            n > 0,
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.floor(
                            (n - F.lit(n_sent) + F.lit(stride - 1))
                            / F.lit(stride)
                        ),
                        F.lit(0),
                    ).cast("int"),
                ),
                lambda k: F.slice(sents, k * stride + 1, n_sent),
            ),
        ).otherwise(F.array())),
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(chunks).alias("chunk_id", "_sents"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("_sents").alias("n_sent_chunk"),
            F.concat_ws(" ", "_sents").alias("chunk_text"),
        )
    )


# PII patterns — deliberately restricted to syntax both Java regex
# (Spark) and RE2 (DuckDB, Go scrubbers) accept identically: character
# classes, bounded repetition, alternation. No lookaround, no backrefs —
# those diverge across engines and defeat oracle verification.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Structured phone shape (optional +cc, optional (area), two 3-4 digit
# groups) rather than "any long digit-ish run": a bare digit-run class
# also swallows ISO dates like 2026-08-13, which a training corpus needs
# to keep.
PII_PHONE_RE = (
    r"\+?[0-9]{1,3}[ .-]?\(?[0-9]{2,4}\)?[ .-]?[0-9]{3,4}[ .-]?[0-9]{3,4}"
)


def redact_pii(text: Column) -> Column:
    """Mask emails then phone-like digit runs: the pre-training scrub
    pass. Email first — an address can contain digits that the phone
    pattern would otherwise shred mid-token. Pure codegen
    (``regexp_replace`` replaces every match in both Spark and, with the
    'g' flag, DuckDB/Postgres), so the scrub runs scan-speed with no
    Python in the loop."""
    no_email = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, PII_PHONE_RE, "<PHONE>")


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Duplicate n-gram fraction — the classic repetition/boilerplate
    quality signal for training corpora (docs dominated by repeated
    phrases get high ``dup_frac`` and are filtered/downweighted).

    Per document: total word n-grams, distinct n-grams, and
    dup_frac = (total - distinct) / total (0.0 when fewer than ``n``
    tokens). All Catalyst array expressions over a single let-bound
    n-gram array — no shuffle, no UDF, linear scan. The division's two
    integer operands are engine-exact, so the double is replicable in
    ANSI SQL without any rounding detour.
    """
    counted = let_bind(
        word_ngrams(word_tokens(F.col(text_col)), n),
        lambda g: F.struct(
            F.size(g).alias("n_grams"),
            F.size(F.array_distinct(g)).alias("n_distinct"),
        ),
    )
    return df.select(F.col(id_col).alias("doc_id"), counted.alias("_r")).select(
        "doc_id",
        F.col("_r.n_grams").alias("n_grams"),
        F.col("_r.n_distinct").alias("n_distinct"),
        F.when(
            F.col("_r.n_grams") > 0,
            (F.col("_r.n_grams") - F.col("_r.n_distinct"))
            / F.col("_r.n_grams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


# URL recognition, Java-regex/RE2-common subset (no lookaround).
URL_RE = r"https?://([A-Za-z0-9.-]+)(/[^\s]*)?"


def url_domain(text: Column) -> Column:
    """First URL's registrable host in the text ('' when none) — the
    group-1 extract both Spark and RE2 engines produce identically.
    Domain-level aggregation is how crawl corpora are curated (per-site
    quality priors, robots blocklists, domain mixing weights)."""
    return F.regexp_extract(text, URL_RE, 1)


# Query parameters that track campaigns/sessions, not content — the
# standard strip list for crawl URL canonicalization.
TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|igshid|ref)="


def canonical_url(url: Column, strip_www: bool = False) -> Column:
    """Canonical form of an absolute http(s) URL — the key a crawl
    dedups on. Pure codegen (Java-regex/RE2-common patterns + array
    ops, no Python):

    - scheme and host lowercased; default ports (:80 http, :443 https)
      stripped; optional leading ``www.`` strip
    - fragment dropped (never sent to the server)
    - tracking params (``utm_*``, ``fbclid``, ``gclid``, …) removed,
      remaining params SORTED so param order can't split a dup group,
      ``?`` dropped when nothing survives
    - empty path becomes ``/``

    Malformed rows (no ``scheme://host``) pass through trimmed and
    unparsed — quarantine-by-identity, never a wrong merge."""
    u = F.regexp_replace(F.trim(url), r"#.*", "")  # fragment off first
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host_base = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    path = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)

    # port strip is scheme-aware: :80 is default only for http, :443
    # only for https — stripping either unconditionally would merge
    # genuinely distinct origins (http://h:443 vs http://h)
    host2 = F.when(
        scheme == F.lit("http"), F.regexp_replace(host_base, r":80$", "")
    ).otherwise(
        F.when(
            scheme == F.lit("https"),
            F.regexp_replace(host_base, r":443$", ""),
        ).otherwise(host_base)
    )
    if strip_www:
        host2 = F.regexp_replace(host2, r"^www\.", "")
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qs = let_bind(
        kept,
        lambda ps: F.when(
            F.size(ps) > 0, F.concat(F.lit("?"), F.array_join(ps, "&"))
        ).otherwise(F.lit("")),
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host2,
        F.when(path == "", F.lit("/")).otherwise(path),
        qs,
    )
    return F.when(scheme == "", F.trim(url)).otherwise(canon)


def ngram_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Explode each document into its distinct word n-grams →
    (doc_id, gram). The building block for overlap/contamination
    checks; one narrow projection + explode, no shuffle."""
    grams = F.array_distinct(word_ngrams(word_tokens(F.col(text_col)), n))
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram")
    )


def strip_markup(text: Column) -> Column:
    """HTML/markup cleanup for crawled corpora: drop tags, decode the
    common entities, collapse whitespace runs, trim. Pure codegen
    (regexp_replace/replace chain — no Python), and every step has an
    exact ANSI twin so the oracle replays it. ``&amp;`` decodes LAST so
    double-encoded entities single-decode (``&amp;lt;`` → ``&lt;``),
    matching standard entity-decode order."""
    out = F.regexp_replace(text, r"<[^>]*>", " ")
    for ent, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def repeated_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated n-grams → (gram, n_docs): the
    substring-level dedup primitive — grams shared by ``min_docs`` or
    more documents mark boilerplate/duplicated passages whose spans a
    curation pass cuts or downweights (the "deduplicating training
    data" recipe, operating on n-grams rather than suffix arrays).

    Plan: one codegen explode of per-doc DISTINCT grams (so ``count(*)``
    per gram IS the distinct-document count — no count_distinct
    expansion needed) + one gram-keyed shuffle with map-side partial
    counts. The ``min_docs`` filter drops the long unique tail at the
    reducer, so only the (tiny) repeated head is ever materialized.
    """
    return (
        ngram_rows(df, text_col, id_col, n)
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def cut_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Remove cross-document duplicated spans from every document →
    (doc_id, clean_text, n_removed): the REMOVAL half of the
    "deduplicating training data makes language models better" recipe,
    at n-gram-window granularity instead of suffix arrays. Any token
    covered by at least one n-gram window that also appears in
    ``min_docs``+ documents is cut; survivors are re-joined in original
    order. ``repeated_ngrams`` finds the boilerplate; this op excises
    it.

    Plan shape: one windows pass (``word_ngrams`` — the same gram
    construction as ``ngram_rows`` so the two ops compose), a
    gram-keyed join against the (tiny, ``min_docs``-filtered) repeated
    head, covered positions exploded n-wide and de-duplicated, a
    (doc, pos) anti join, and a per-doc ordered rebuild
    (array_sort over (pos, token) structs — no window function, no
    Python). At 100 TB the gram join would key on ``xxhash64(gram)``
    (8 bytes instead of the span text) with identical semantics;
    ``hash_grams=True`` IS that route (pytest-proven equal on the
    fixture) — the default string key stays so the ANSI oracle can
    replay the pipeline verbatim."""
    reps = repeated_ngrams(df, text_col, id_col, n, min_docs).select("gram")
    if hash_grams:
        reps = reps.select(F.xxhash64("gram").alias("gram"))
    toks_arr = df.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("t")
    )
    tok = toks_arr.select(
        "doc_id", F.posexplode("t").alias("pos", "token")
    )
    wins = toks_arr.select(
        "doc_id", F.posexplode(word_ngrams(F.col("t"), n)).alias("pos", "gram")
    )
    if hash_grams:
        wins = wins.withColumn("gram", F.xxhash64("gram"))
    covered = (
        wins.join(reps, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        toks_arr.select("doc_id", F.size("t").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def contamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing at least one
    word n-gram with the held-out/test set → (doc_id, n_shared_grams).

    Scale shape: the benchmark side is tiny relative to a training
    corpus, so its distinct gram set BROADCASTS and the training scan is
    never shuffled for the probe; the per-doc count is one
    partial-aggregated groupBy. Raise ``n`` (13 is the common published
    choice) to sharpen precision on real corpora.
    """
    test_grams = ngram_rows(test, text_col, id_col, n).select("gram").distinct()
    return (
        ngram_rows(train, text_col, id_col, n)
        .join(F.broadcast(test_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 2,
) -> DataFrame:
    """Cross-document LINE dedup (the C4/CCNet boilerplate rule):
    drop every line whose trimmed form appears in more than
    ``max_doc_freq`` distinct documents — navigation, cookie banners
    and footers repeat across a site's pages while real content does
    not. Returns (id, text) with surviving lines reassembled IN
    ORDER.

    Scale shape: one posexplode + one line-keyed distinct-doc count
    (partial-aggregated; the hot '' line never joins — blank lines are
    kept structurally), one broadcast-or-shuffle join back, and one
    per-doc ordered reassembly via array_sort over (pos, line) structs
    — no window, no global sort. Line identity is the TRIMMED string;
    emitted lines keep their original bytes."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.trim(F.col("line")))
    freq = (
        lines.filter(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.count_distinct(F.col(id_col)).alias("df_docs"))
    )
    kept = (
        lines.join(freq, "norm", "left")
        .filter(
            (F.col("norm") == "")
            | (F.coalesce("df_docs", F.lit(0)) <= max_doc_freq)
        )
        .select(id_col, "pos", "line")
    )
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("line")))
            ).alias("_ls")
        )
        .select(
            id_col,
            F.array_join(
                F.transform("_ls", lambda s: s["line"]), "\n"
            ).alias(text_col),
        )
    )
    # docs whose every line was boilerplate come back as empty text
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .select(id_col, F.coalesce(text_col, F.lit("")).alias(text_col))
    )


def lang_segments(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-LINE language segmentation rolled up per document →
    (id, n_lines, dominant_lang, dominant_frac, n_langs). Crawl pages
    are routinely mixed-language; a document-level vote (``lang_id``)
    hides an embedded second language, while the line-level roll-up
    surfaces it (n_langs > 1) and quantifies the dominant share —
    exactly the signal a curation pass thresholds before routing docs
    to per-language pipelines. Dominance = most non-unknown lines,
    ties to the lexicographically smallest code; all-unknown docs
    surface as ('unknown', 0.0, 0). One explode + keyed aggregates,
    pure codegen."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("text"),
    )
    pred = lang_id(lines, text_col="text", out_col="lang")
    counts = (
        pred.filter(F.col("lang") != LANG_UNKNOWN)
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c").desc(), F.col("lang"))
    dom = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col("lang").alias("dominant_lang"), "c")
    )
    nl = counts.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_langs"))
    tot = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        tot.join(dom, id_col, "left")
        .join(nl, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("dominant_lang", F.lit(LANG_UNKNOWN)).alias(
                "dominant_lang"
            ),
            F.round(
                F.coalesce(F.col("c"), F.lit(0)) / F.col("n_lines"), 6
            ).alias("dominant_frac"),
            F.coalesce("n_langs", F.lit(0)).cast("int").alias("n_langs"),
        )
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    max_vocab: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Deterministic vocabulary → (token, token_id, count): ids are
    dense ranks by (count DESC, token ASC) — frequency order with a
    total tiebreak, so the mapping is identical on every run, every
    partitioning, and every engine (unlike zipWithIndex, whose ids
    depend on partition layout). The id-assignment sort is over the
    VOCABULARY (bounded by language, not corpus), not the corpus — the
    only corpus-scale work is one token count aggregate."""
    freq = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("count").desc(), F.col("token"))
    out = freq.select(
        "token", F.row_number().over(w).alias("token_id"), "count"
    )
    if max_vocab is not None:
        out = out.filter(F.col("token_id") <= max_vocab)
    return out


def word_bigrams(text: Column) -> Column:
    """Adjacent word-token pairs as 'w1 w2' strings — built ARRAY-side
    (zip of the token array with its own shift), so no positional
    self-join is ever needed to recover adjacency."""
    return let_bind(
        word_tokens(text),
        lambda t: let_bind(
            F.size(t),
            lambda n: F.when(
                n >= 2,
                F.zip_with(
                    F.slice(t, 1, n - 1),
                    F.slice(t, 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref: DataFrame | None = None,
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram language-model score per document — the
    next-order upgrade of ``unigram_lm_scores``: per adjacent token
    pair, ln(λ·c(w1 w2)/c(w1) + (1−λ)·(c(w2)+1)/(N+V)) under the
    reference corpus counts, averaged per document. Formulaic
    in-distribution word SEQUENCES now score high even when individual
    tokens are common everywhere — the signal CCNet's KenLM filter
    actually uses, at bigram order. Docs with fewer than two tokens
    produce no row (nothing to score).

    Declared semantics the SQL twin replays exactly: c(w1) is w1's
    unigram occurrence count over the reference (not its
    bigram-first-position count); unseen w1 (possible only when
    ref ≠ df) backs off to the smoothed unigram term alone. Scale
    shape: two token-keyed count aggregates over the reference, then
    scoring joins on bigram and unigram keys — AQE picks broadcast vs
    shuffle by vocab size; one-row totals broadcast; all codegen."""
    ref = df if ref is None else ref
    runi = (
        ref.select(F.explode(word_tokens(F.col(text_col))).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c1"))
    )
    rbig = (
        ref.select(F.explode(word_bigrams(F.col(text_col))).alias("_bg"))
        .groupBy("_bg")
        .agg(F.count(F.lit(1)).alias("_c12"))
    )
    totals = runi.agg(F.sum("_c1").alias("_N"), F.count(F.lit(1)).alias("_V"))
    bigr = df.select(
        F.col(id_col), F.explode(word_bigrams(F.col(text_col))).alias("_bg")
    ).withColumn("_w1", F.split(F.col("_bg"), " ")[0]).withColumn(
        "_w2", F.split(F.col("_bg"), " ")[1]
    )
    c1 = runi.select(F.col("_w").alias("_w1"), F.col("_c1").alias("_cw1"))
    c2 = runi.select(F.col("_w").alias("_w2"), F.col("_c1").alias("_cw2"))
    return (
        bigr.join(rbig, "_bg", "left")
        .join(c1, "_w1", "left")
        .join(c2, "_w2", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.log(
                F.lit(lam)
                * F.coalesce(
                    F.col("_c12")
                    / F.nullif(F.col("_cw1").cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                )
                + F.lit(1.0 - lam)
                * (F.coalesce(F.col("_cw2"), F.lit(0)) + 1)
                / (F.col("_N") + F.col("_V"))
            ).alias("_lp"),
        )
        .groupBy(id_col)
        .agg(F.round(F.avg("_lp"), 6).alias("bigram_logprob"))
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token diversity → (id, n_tokens, distinct_tokens,
    entropy, ttr). Shannon entropy over the token frequency
    distribution plus type-token ratio — the repetitiveness signals
    curation rules threshold on (a spammy page repeating one phrase has
    near-zero entropy at any length). One explode + one (doc, term)
    count + one per-doc aggregate — two keyed shuffles, both
    partial-aggregated; token-free docs surface with zero entropy
    rather than dropping."""
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # entropy needs tf/n per row: totals first, then Σ p·ln(p) over the
    # already-collapsed (doc, term) relation — both joins keyed on doc
    n = tf.groupBy(id_col).agg(F.sum("tf").alias("n"))
    ent = (
        tf.join(n, id_col)
        .groupBy(id_col)
        .agg(
            F.max("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.round(
                -F.sum(
                    (F.col("tf") / F.col("n"))
                    * F.log(F.col("tf") / F.col("n"))
                ),
                6,
            ).alias("entropy"),
        )
        .withColumn(
            "ttr",
            F.round(F.col("distinct_tokens") / F.col("n_tokens"), 6),
        )
    )
    return (
        df.select(id_col)
        .join(ent, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("distinct_tokens", F.lit(0)).alias("distinct_tokens"),
            F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
            F.coalesce("ttr", F.lit(0.0)).alias("ttr"),
        )
    )


# Stopwords for the document-level "natural prose" check (the Gopher
# rule: a real English document contains at least two of these).
GATE_STOPWORDS = ("the", "and", "of", "to", "be")


def gopher_gate(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/C4-style composite quality gate, per document: word-count
    bounds, mean-word-length band, alphabetic-word fraction, ellipsis-
    line fraction, stopword presence — each rule surfaced as its own
    flag plus the AND'd ``keep``, so a pipeline can both filter and
    audit WHY rows fell. Pure codegen (split/filter/aggregate array
    exprs), zero shuffles. Thresholds follow the published heuristics
    (Rae et al. 2021 'Gopher' §A1.1; C4's line rules), adapted to
    whitespace tokens."""
    t = F.col(text_col)

    def flags(toks, lines):
        n_words = F.size(toks)
        word_chars = F.aggregate(
            F.transform(toks, F.length),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        mean_wl = word_chars / F.greatest(n_words, F.lit(1))
        alpha_frac = F.size(
            F.filter(toks, lambda x: x.rlike("[A-Za-z]"))
        ) / F.greatest(n_words, F.lit(1))
        ell_frac = F.size(
            F.filter(lines, lambda l: l.endswith("..."))
        ) / F.greatest(F.size(lines), F.lit(1))
        pad = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
        stop_hits = None
        for w in GATE_STOPWORDS:
            c = occurrence_count(pad, f" {w} ")
            stop_hits = c if stop_hits is None else stop_hits + c
        return [
            n_words.alias("g_words"),
            F.round(mean_wl, 4).alias("g_mean_wl"),
            F.round(alpha_frac, 6).alias("g_alpha_frac"),
            F.round(ell_frac, 6).alias("g_ellipsis_frac"),
            stop_hits.alias("g_stop_hits"),
            (
                n_words.between(10, 100000)
                & mean_wl.between(2, 12)
                & (alpha_frac >= 0.8)
                & (ell_frac <= 0.3)
                & (stop_hits >= 2)
            )
            .cast("int")
            .alias("keep"),
        ]

    ws_toks = F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))
    lines = F.split(t, r"\n")
    return df.select(F.col(id_col), *flags(ws_toks, lines))


def hashed_token_buckets(text: Column, prefix_len: int = 2) -> Column:
    """Feature-hash each word token to one of 16^prefix_len buckets via
    an md5-hex prefix — the hashing-trick vocabulary bound every
    fasttext-style filter uses, in the repo's ANSI-replicable hash
    family (md5 hex is identical in every engine, so an external SQL
    twin can recompute the exact buckets)."""
    return F.transform(
        word_tokens(text), lambda w: F.substring(F.md5(w), 1, prefix_len)
    )


def nb_train_hashed(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    prefix_len: int = 2,
) -> DataFrame:
    """Distributed training of a hashed multinomial naive-Bayes text
    classifier → (bucket, w) log-odds weights. This is the quality-
    filter training loop a curation pipeline runs at corpus scale (the
    fasttext-classifier shape): one explode + one (bucket × label)
    count aggregate — partial/final HashAggregate, so the shuffle
    carries at most 16^prefix_len rows per map task — then Laplace-
    smoothed log-odds against the class totals (a broadcast one-row
    cross join, never a collect). Weights output is ≤ 16^prefix_len
    rows: broadcastable at any corpus size."""
    y = F.col(label_col).cast("int")
    toks = df.select(
        y.alias("y"),
        F.explode(hashed_token_buckets(F.col(text_col), prefix_len)).alias(
            "bucket"
        ),
    )
    counts = toks.groupBy("bucket").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    tot = toks.agg(
        F.sum("y").alias("pos_tot"), F.sum(1 - F.col("y")).alias("neg_tot")
    )
    nb = float(16**prefix_len)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("pos") + 1) / (F.col("pos_tot") + nb))
            - F.log((F.col("neg") + 1) / (F.col("neg_tot") + nb))
        ).alias("w"),
    )


def nb_prior(df: DataFrame, label_col: str) -> DataFrame:
    """One-row class-prior log-odds (add-one smoothed) — cross-joined
    (broadcast) into scoring, never collected."""
    y = F.col(label_col).cast("int")
    return df.agg(
        F.log((F.sum(y) + 1.0) / (F.sum(1 - y) + 1.0)).alias("prior")
    )


def nb_score_hashed(
    df: DataFrame,
    weights: DataFrame,
    prior: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 2,
) -> DataFrame:
    """Apply a trained hashed-NB model → (id, score, pred). One explode
    + one broadcast join against the ≤ 16^prefix_len weight rows + one
    per-doc sum — the fact table shuffles once, on the doc key, with
    map-side combine. Token-free docs score the bare prior (left
    joins), never drop."""
    toks = df.select(
        F.col(id_col),
        F.explode(hashed_token_buckets(F.col(text_col), prefix_len)).alias(
            "bucket"
        ),
    )
    sums = (
        toks.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("w", F.lit(0.0))).alias("s"))
    )
    return (
        df.select(id_col)
        .join(sums, id_col, "left")
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            (F.coalesce("s", F.lit(0.0)) + F.col("prior")).alias("score"),
        )
    )


def unigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref: DataFrame | None = None,
) -> DataFrame:
    """Unigram language-model quality score per document — the in-engine
    approximation of CCNet-style LM filtering (docs scored by a model of
    a reference corpus, then binned by score): per token OCCURRENCE the
    add-one-smoothed log-probability ln((c(tok)+1)/(N+V)) under the
    reference unigram distribution, averaged per document. Rare-token /
    OOV-heavy documents score low; formulaic in-distribution text scores
    high. (doc, lm_logprob) rows; empty documents produce no row
    (no tokens to score — matching SQL AVG-over-nothing semantics).

    ``ref`` defaults to ``df`` itself (self-scoring). Scale shape: the
    frequency model is one token-keyed aggregate over the reference;
    scoring joins token occurrences to it — a unigram vocab is bounded
    by language, not corpus (AQE picks broadcast vs shuffle), and the
    one-row (N, V) totals frame is broadcast explicitly. All codegen;
    no Python in the hot path.
    """
    ref = df if ref is None else ref
    rtok = ref.select(F.explode(word_tokens(F.col(text_col))).alias("_tok"))
    freq = rtok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
    totals = freq.agg(
        F.sum("_c").alias("_N"), F.count(F.lit(1)).alias("_V")
    )
    toks = df.select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("_tok")
    )
    return (
        toks.join(freq, "_tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("_c"), F.lit(0)) + 1)
                / (F.col("_N") + F.col("_V"))
            ).alias("_lp"),
        )
        .groupBy(id_col)
        .agg(F.round(F.avg("_lp"), 6).alias("lm_logprob"))
    )


def stemmed_tokens(text: Column) -> Column:
    """``word_tokens`` + Porter stemming, as one Arrow-batched pass
    over the token arrays (``row_udf`` on array<string> — one Python
    crossing per batch, with a per-task memo; natural vocabularies
    are Zipfian so the memo hit rate is extreme). This is the
    tokenizer of the stemmed retrieval tier — NOT a row-at-a-time
    Python UDF in a hot path."""
    from ..functions.stemmer import stem_tokens

    memo: dict = {}
    return row_udf(lambda a: stem_tokens(a, memo), "array<string>")(
        word_tokens(text)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    stem: bool = False,
) -> DataFrame:
    """Okapi BM25 full-text retrieval: top-k documents for a bag of
    query terms → (doc_id, score, rank).

    Standard BM25 with the Robertson/Sparck-Jones idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (Lucene's non-negative
    variant) and per-term saturation
    ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``. N, df and avgdl are
    exact corpus statistics over documents that tokenize to ≥1 token.

    Shape at scale — this is the serving path of an inverted index
    without materializing one: the exploded (doc, term) stream is
    filtered to the query's terms BEFORE any aggregation (predicate on
    a literal in-list, pushed into the scan projection), so the only
    per-corpus full pass is the doc-length aggregate; df/idf stats are
    computed on the already-filtered stream; the final top-k is a
    TakeOrderedAndProject, never a global sort. No driver-side
    vocabulary, no Python in the hot path.

    With ``stem=True``, both the corpus tokens and the query terms go
    through the Porter stemmer (``functions.stemmer``), so "merged" /
    "merges" / "merging" retrieve documents containing "merge" —
    tf/df/idf become statistics over stem equivalence classes.
    Document length (dl/avgdl) is token count, which stemming does
    not change.
    """
    if stem:
        from ..functions.stemmer import stem_tokens

        terms = sorted(set(stem_tokens([t.lower() for t in query_terms])))
        tok_col = stemmed_tokens(F.col(text_col))
    else:
        terms = sorted({t.lower() for t in query_terms})
        tok_col = word_tokens(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tok_col).alias("term"),
    )
    # Per-document length over all tokens (one full pass).
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # Query-term postings only past this point.
    qtf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    scored = (
        qtf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df_docs") + 0.5)
                    / (F.col("df_docs") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


def build_inverted_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Materialize a parquet inverted index for BM25 serving: a postings
    table (term, doc_id, tf) PARTITIONED BY hash-bucket of the term, a
    doc-length table, and a 1-row corpus-stats table.

    The bucket layout is the text twin of ``ivf_index``: a query's
    terms map to a handful of buckets, the read plans a PartitionFilter
    on exactly those directories, and the rest of the postings — the
    overwhelming majority at corpus scale — is never read. Tokenize +
    index build is one explode + one aggregate; rebuilding is the
    batch-refresh model (the reference's daily-load cadence)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    postings = (
        toks.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    dl.write.mode("overwrite").parquet(f"{path}/doc_lengths")
    # r16 optimization round (guide §2.4): stats from the WRITTEN
    # doc-length table, not the `dl` lineage — `dl.agg(...)` after the
    # write re-ran tokenize+groupBy over the whole corpus for a 1-row
    # aggregate; reading back the just-written longs is a tiny columnar
    # scan, and read+agg+write stay one fused job exactly as before.
    df.sparkSession.read.parquet(f"{path}/doc_lengths").agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).write.mode("overwrite").parquet(f"{path}/stats")


def inverted_index_append(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Incremental inverted-index maintenance: tokenize ONLY the new
    batch, append its (term, doc_id, tf) postings into the existing
    term-bucket partitions and its doc lengths alongside the old, then
    refresh the 1-row corpus stats from the doc-length table — a tiny
    aggregate over one row per document, never a corpus text re-scan.

    Equal to a full rebuild when appended doc_ids are disjoint from the
    indexed ones (each (term, doc) posting lives in exactly one batch —
    the reference's append-only daily-load contract). Daily cost is
    O(batch) for tokenize+postings plus O(#docs) longs for the stats
    refresh: the text twin of ``ivf_index_append``/
    ``minhash_incremental``.

    r16 optimization round (VERDICT r15 item 6): replacing the
    per-batch stats re-read with running totals in a JSON sidecar was
    implemented TWO ways and measured SLOWER both times at sf0.1
    (interleaved A/B, stream_index_append/bm25_incremental +0.4-0.9 s):
    an Observation riding the doc-length write pays the listener-bus
    wait on ``get``, and a listing-diff + increment-files read pays an
    extra job plus ~8 filesystem round-trips per micro-batch — while
    the refresh below is ONE fused job (columnar read of one long
    column → 1-row agg → 1-row write) whose input is small even at
    large corpus counts. Reverted per the negative-result discipline;
    if the doc-length re-read ever dominates at real corpus scale, the
    sidecar needs a cheaper commit channel than per-batch JSON."""
    toks = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    postings = (
        toks.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    # r15 optimization round (guide §6): cluster the batch by bucket
    # before the partitioned write — without this every post-shuffle
    # task fans out into up to n_buckets directories, so a wide batch
    # writes (tasks × buckets) small files; clustered, each bucket gets
    # at most a handful of files per batch regardless of batch width.
    postings.repartition(F.col("bucket")).write.mode("append").partitionBy(
        "bucket"
    ).parquet(f"{path}/postings")
    dl.write.mode("append").parquet(f"{path}/doc_lengths")
    spark.read.parquet(f"{path}/doc_lengths").agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    n_buckets: int = 64,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Serve BM25 top-k from a persisted inverted index — identical
    results to ``bm25_topk`` (tested), but the corpus pass is GONE: the
    postings read prunes to the query terms' hash-bucket directories
    (PartitionFilters), doc lengths join only for surviving postings,
    and corpus stats are one cached row."""
    terms = sorted({t.lower() for t in query_terms})
    buckets = sorted(
        {r["b"] for r in
         spark.createDataFrame([(t,) for t in terms], "term string")
         .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b"))
         .collect()}
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    dl = spark.read.parquet(f"{path}/doc_lengths")
    stats = spark.read.parquet(f"{path}/stats")
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df_docs") + 0.5)
                    / (F.col("df_docs") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# Windows-1252 bytes 0x80-0x9F map to these printables (published
# cp1252 code page; 0x81 8D 8F 90 9D are undefined and omitted).
# Position i in _CP1252_GLYPHS corresponds to the C1 codepoint in
# _CP1252_C1 — used as a 1:1 F.translate to undo a cp1252 render
# before the generic Latin-1 roundtrip repair.
_CP1252_TABLE: dict[int, int] = {
    0x20AC: 0x80, 0x201A: 0x82, 0x0192: 0x83, 0x201E: 0x84,
    0x2026: 0x85, 0x2020: 0x86, 0x2021: 0x87, 0x02C6: 0x88,
    0x2030: 0x89, 0x0160: 0x8A, 0x2039: 0x8B, 0x0152: 0x8C,
    0x017D: 0x8E, 0x2018: 0x91, 0x2019: 0x92, 0x201C: 0x93,
    0x201D: 0x94, 0x2022: 0x95, 0x2013: 0x96, 0x2014: 0x97,
    0x02DC: 0x98, 0x2122: 0x99, 0x0161: 0x9A, 0x203A: 0x9B,
    0x0153: 0x9C, 0x017E: 0x9E, 0x0178: 0x9F,
}
_CP1252_GLYPHS = "".join(chr(k) for k in _CP1252_TABLE)
_CP1252_C1 = "".join(chr(v) for v in _CP1252_TABLE.values())


def fix_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = "text_fixed"
) -> DataFrame:
    """Repair UTF-8-misdecoded-as-Latin-1 text (ftfy-style mojibake
    fix, the single most common real-corpus encoding defect: 'Ã©' for
    'é').

    Mechanism is the *generic* inverse transform, not a lookup table:
    re-encode the string as ISO-8859-1 (byte-identity for the Latin-1
    repertoire) and re-decode the bytes as UTF-8. Repair is applied
    only when three detection gates all pass, so clean text — ASCII or
    correctly-decoded accents — is left untouched:

    1. every char is in the Latin-1 repertoire (``^[\\x00-\\xFF]*$``;
       ISO-8859-1 encode cannot otherwise represent the string, and
       Spark 4 raises on unmappable chars),
    2. the re-encoded bytes are valid UTF-8 (``is_valid_utf8`` —
       a clean 'résumé' re-encodes to a lone 0xE9 byte, which is NOT
       valid UTF-8, so the gate rejects exactly the strings where the
       "repair" would corrupt),
    3. the decode strictly shrinks the string (multi-byte sequences
       collapse; an identity roundtrip means pure ASCII).

    Entirely JVM-side codegen (encode/decode/is_valid_utf8/rlike) — no
    Python, no shuffle; at 100 TB this is a map-only pass over the
    corpus. The reference ships text to ClickHouse verbatim
    (v2/sql/create_tables.sql:7); encoding repair is pipeline-extension
    surface.

    Real-world mojibake is usually Windows-1252, not pure Latin-1:
    the bytes 0x80-0x9F render as '€‚ƒ„…' etc. ('â€™' for a curly
    apostrophe), and those glyphs sit ABOVE the Latin-1 repertoire.
    The repair therefore first maps the 27 cp1252-specific printables
    back to their C1 codepoints (the published cp1252 byte table —
    ftfy's "sloppy windows-1252" trick), then runs the generic
    roundtrip; all gates are evaluated on the mapped candidate, and a
    failed gate returns the ORIGINAL string, so the pre-map never
    leaks into untouched output.

    Output adds ``out_col`` (repaired text) and ``was_mojibake``
    (boolean, true iff a repair was applied).
    """
    c = F.col(text_col)
    cand = F.translate(c, _CP1252_GLYPHS, _CP1252_C1)
    latin_ok = cand.rlike(r"^[\x00-\xFF]*$")
    enc = F.encode(cand, "ISO-8859-1")
    valid = F.when(latin_ok, F.expr("is_valid_utf8(_moj_enc)")).otherwise(
        F.lit(False)
    )
    rep = F.decode(F.col("_moj_enc"), "UTF-8")
    staged = df.withColumn("_moj_cand", cand).withColumn(
        "_moj_enc", F.when(latin_ok, enc)
    )
    fixable = (
        latin_ok & valid & (F.length(rep) < F.length(F.col("_moj_cand")))
    )
    return (
        staged.withColumn(out_col, F.when(fixable, rep).otherwise(c))
        .withColumn("was_mojibake", fixable)
        .drop("_moj_cand", "_moj_enc")
    )


RAKE_STOPWORDS = (
    "a", "an", "the", "and", "or", "of", "to", "in", "on", "for",
    "is", "are", "was", "be", "with", "as", "at", "by", "it",
    "this", "that", "from", "but", "not",
)


def rake_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 5,
    stopwords: "tuple[str, ...]" = RAKE_STOPWORDS,
    max_phrase_len: int = 4,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) → the top-k scored
    candidate phrases per document: (id, phrase, n_words, score).

    Candidate phrases are maximal runs of non-stopword tokens; each
    word scores deg(w)/freq(w) within its document (deg = summed
    length of phrases containing w, freq = occurrence count) and a
    phrase scores the sum of its words' scores. Runs longer than
    ``max_phrase_len`` are dropped (standard RAKE practice — and the
    cap also bounds the join fan-out). Identical phrase strings in
    one document are scored once.

    Plan: tokenize (codegen split/filter), posexplode, one keyed
    window cumsum assigns run ids (the stopword count before each
    token), two keyed aggregations build phrase and word statistics,
    one (doc, word) join prices each occurrence, a final keyed
    row_number takes top-k by (rounded score desc, phrase) — a total
    order, so selection is deterministic. Everything is keyed by
    doc_id; no global sorts, no Python.
    """
    toks = word_tokens(F.col(text_col))
    flat = (
        df.select(F.col(id_col).alias("_id"), F.posexplode(toks).alias("pos", "w"))
        .withColumn("is_stop", F.col("w").isin(*stopwords))
    )
    wseq = Window.partitionBy("_id").orderBy("pos")
    flat = flat.withColumn(
        "pid", F.sum(F.col("is_stop").cast("int")).over(wseq)
    ).filter(~F.col("is_stop"))
    phrases = (
        flat.groupBy("_id", "pid")
        .agg(
            F.count(F.lit(1)).alias("plen"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
        )
        .filter(F.col("plen") <= max_phrase_len)
    )
    occ = flat.join(phrases.select("_id", "pid", "plen"), ["_id", "pid"])
    wstat = occ.groupBy("_id", "w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    )
    scored = (
        occ.join(wstat, ["_id", "w"])
        .groupBy("_id", "pid")
        .agg(
            F.round(
                F.sum(F.col("deg").cast("double") / F.col("freq")), 6
            ).alias("score")
        )
        .join(phrases, ["_id", "pid"])
        .select("_id", "phrase", F.col("plen").alias("n_words"), "score")
        .distinct()
    )
    wtop = Window.partitionBy("_id").orderBy(
        F.col("score").desc(), F.col("phrase")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wtop))
        .filter(F.col("_rn") <= top_k)
        .drop("_rn")
        .withColumnRenamed("_id", id_col)
    )


def pmi_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 2,
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information over within-window word pairs →
    (w1, w2, n_pair, pmi): pmi = ln(P(pair) / (P(w1)·P(w2))) with
    pair probabilities from windowed co-occurrences and word
    probabilities from token frequencies. The collocation-mining
    primitive (Church & Hanks 1990): high PMI = words that appear
    together far more than chance.

    Pairs come from a positional self-join (same doc, 1 ≤ Δpos ≤
    window) keyed on doc_id — fan-out is corpus_tokens × window, not
    n². Unordered pairs are canonicalized (least, greatest) BEFORE
    aggregation so "a b" and "b a" pool. ``min_count`` prunes the
    unstable low-support tail (standard practice — PMI explodes for
    hapax pairs). One token explode, one keyed join, three partial
    aggs, two broadcastable scalar totals.
    """
    toks = word_tokens(F.col(text_col))
    flat = df.select(
        F.col(id_col).alias("_id"), F.posexplode(toks).alias("pos", "w")
    )
    t1, t2 = flat.alias("t1"), flat.alias("t2")
    pairs_all = (
        t1.join(
            t2,
            (F.col("t1._id") == F.col("t2._id"))
            & (F.col("t2.pos") - F.col("t1.pos") >= 1)
            & (F.col("t2.pos") - F.col("t1.pos") <= window),
        )
        .select(
            F.least(F.col("t1.w"), F.col("t2.w")).alias("w1"),
            F.greatest(F.col("t1.w"), F.col("t2.w")).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    pairs = pairs_all.filter(F.col("n_pair") >= min_count)
    wc = flat.groupBy(F.col("w").alias("_w")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    tot_tokens = flat.agg(F.count(F.lit(1)).alias("_t"))
    # total-pair denominator from the already-grouped counts — one
    # small agg instead of a second corpus-wide positional join
    tot_pairs = pairs_all.agg(F.sum("n_pair").alias("_p"))
    return (
        pairs.join(wc.withColumnRenamed("_w", "w1"), "w1")
        .withColumnRenamed("_c", "_c1")
        .join(wc.withColumnRenamed("_w", "w2"), "w2")
        .withColumnRenamed("_c", "_c2")
        .crossJoin(F.broadcast(tot_tokens))
        .crossJoin(F.broadcast(tot_pairs))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("_p"))
                    / (
                        (F.col("_c1") / F.col("_t"))
                        * (F.col("_c2") / F.col("_t"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


_SOUNDEX_FROM = "BFPVCGJKQSXZDTLMNRAEIOUYHW"
_SOUNDEX_TO = "111122222222334556AAAAAAAA"


def soundex_expr(word: Column) -> Column:
    """American Soundex as a pure Catalyst expression chain —
    implemented from the published rules rather than delegating to
    any engine builtin, so an ANSI oracle can replay it operation for
    operation: uppercase/strip, delete H/W from the tail (exactly the
    "same codes separated by h/w collapse" rule), map consonants to
    digits and vowels to a separator, collapse adjacent duplicates
    (the first letter's code participates), strip separators, drop
    the first letter's own code, pad to letter + 3 digits. NULL/empty
    or non-alphabetic input → NULL."""
    up = F.upper(F.regexp_replace(word, "[^A-Za-z]", ""))
    first = F.substring(up, 1, 1)
    dehw = F.concat(first, F.regexp_replace(F.substring(up, 2, 1 << 20), "[HW]", ""))
    mapped = F.translate(dehw, _SOUNDEX_FROM, _SOUNDEX_TO)
    collapsed = F.regexp_replace(mapped, r"(.)\1+", "$1")
    digits = F.translate(collapsed, "A", "")
    fc = F.translate(first, _SOUNDEX_FROM, _SOUNDEX_TO)
    tail = F.when(fc == "A", digits).otherwise(
        F.substring(digits, 2, 1 << 20)
    )
    return F.when(
        F.length(up) > 0,
        F.concat(first, F.rpad(F.substring(tail, 1, 3), 3, "0")),
    )


def flesch_reading_ease(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch reading-ease per document → (id, n_words, n_sentences,
    n_syllables, flesch): 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with the standard vowel-group syllable
    heuristic (maximal [aeiouy]+ runs per word, minimum 1) — the
    classic document-quality feature every readability gate uses.
    Pure codegen: tokenization, regexp_extract_all per word inside a
    higher-order sum, sentence count from terminator splits. Empty
    docs yield NULL score rather than dividing by zero."""
    text = F.col(text_col)
    toks = F.filter(
        F.split(F.lower(text), r"[^a-z']+"), lambda x: x != F.lit("")
    )
    n_words = F.size(toks)
    n_sent = F.size(
        F.filter(
            F.split(text, r"[.!?]+"),
            lambda s: F.length(F.trim(s)) > 0,
        )
    )
    syl = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
                F.lit(1),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("n_syllables"),
        F.when(
            (n_words > 0) & (n_sent > 0),
            F.round(
                206.835
                - 1.015 * (n_words.cast("double") / n_sent)
                - 84.6 * (syl.cast("double") / n_words),
                6,
            ),
        ).alias("flesch"),
    )


def zipf_fit(df: DataFrame, text_col: str, top_n: int = 500) -> DataFrame:
    """Zipf's-law fit of the corpus term distribution → one row
    (n, slope, intercept, r2): least squares of log10(frequency) on
    log10(rank) over the ``top_n`` most frequent terms (rank ties
    break by term). A healthy natural-language corpus fits slope ≈ −1
    with high r²; synthetic/templated text bends the tail — a cheap
    corpus-level quality fingerprint to trend across crawl snapshots.

    The fact table reduces to term counts in one partial-aggregated
    pass; the global rank runs over the VOCABULARY table (top-n
    bounded), and the fit reuses ``linear_regression``'s one-pass
    sufficient statistics."""
    from pyspark.sql import Window

    from from_superset_to_clickhouse_spark.operators.stats import (
        linear_regression,
    )

    freq = (
        df.select(
            F.explode(word_tokens(F.col(text_col))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    ranked = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.log10(F.col("rank").cast("double")).alias("lx"),
            F.log10(F.col("cnt").cast("double")).alias("ly"),
        )
    )
    return linear_regression(ranked, "lx", "ly")


def heaps_fit(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth → one row (n, slope,
    intercept, r2) for log10 V(r) ~ log10 N(r), where after the first
    r documents (in ``id_col`` order) N is the running token count and
    V the running DISTINCT-token count. Natural corpora fit
    V ≈ K·N^β with β ≈ 0.4–0.6; duplicated or templated corpora bend
    flat — the growth-curve companion to ``zipf_fit``'s static
    snapshot.

    Scale: V(r) needs no per-rank distinct — each token contributes a
    "birth" at its FIRST document (one min-aggregate), births per
    document cumulate, token counts per document cumulate, both
    through the two-phase bucketed running total (no single-task
    sort); the regression reuses the one-pass sufficient
    statistics."""
    from from_superset_to_clickhouse_spark.operators.relational import (
        bucketed_cumsum,
    )
    from from_superset_to_clickhouse_spark.operators.stats import (
        linear_regression,
    )

    toks = df.select(
        F.col(id_col).alias("_d"),
        F.explode(word_tokens(F.col(text_col))).alias("_t"),
    )
    per_doc = toks.groupBy("_d").agg(F.count(F.lit(1)).alias("_nt"))
    births = (
        toks.groupBy("_t")
        .agg(F.min("_d").alias("_d"))
        .groupBy("_d")
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    base = per_doc.join(births, "_d", "left").select(
        "_d", "_nt", F.coalesce("_nb", F.lit(0)).alias("_nb")
    )
    n_run = bucketed_cumsum(
        base, "_d", "_nt", ["_d"], part_cols=[], out_col="_N"
    )
    both = bucketed_cumsum(
        n_run, "_d", "_nb", ["_d"], part_cols=[], out_col="_V"
    )
    pts = both.select(
        F.log10(F.col("_N").cast("double")).alias("lx"),
        F.log10(F.col("_V").cast("double")).alias("ly"),
    )
    return linear_regression(pts, "lx", "ly")


def collocations_g2(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
) -> DataFrame:
    """Log-likelihood-ratio (Dunning G²) and t-score collocation
    strength over ORDERED adjacent bigrams → (w1, w2, n_pair, g2,
    t_score): the significance-tested complement of ``pmi_pairs``
    (PMI overweights rare pairs; G² is χ²-distributed and ranks
    "strong AND well-attested" collocations — Dunning 1993, Manning &
    Schütze §5.3.4). Contingency per bigram: O11 = c(w1 w2), O12 =
    c(w1 ·) − O11, O21 = c(· w2) − O11, O22 = N − rest; G² =
    2 Σ O·ln(O/E) over non-zero cells; t = (O11 − E11)/√O11.

    Same tokenizer and scale shape as pmi_pairs: one token explode,
    bigrams from a lead window inside each document (corpus_tokens
    rows, no self-join needed at Δpos = 1), two broadcastable
    marginal tables, ``min_count`` pruning before the scoring joins."""
    toks = word_tokens(F.col(text_col))
    flat = df.select(
        F.col(id_col).alias("_id"), F.posexplode(toks).alias("pos", "w")
    )
    nxt = Window.partitionBy("_id").orderBy("pos")
    bi = flat.select(
        F.col("w").alias("w1"),
        F.lead("w").over(nxt).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    pairs_all = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    pairs = pairs_all.filter(F.col("n_pair") >= min_count)
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    c2 = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("_c2"))
    tot = pairs_all.agg(F.sum("n_pair").alias("_n"))
    j = (
        pairs.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("_n").cast("double")
    o11 = F.col("n_pair").cast("double")
    o12 = F.col("_c1").cast("double") - o11
    o21 = F.col("_c2").cast("double") - o11
    o22 = n - o11 - o12 - o21
    e11 = F.col("_c1").cast("double") * F.col("_c2") / n
    e12 = F.col("_c1").cast("double") * (n - F.col("_c2")) / n
    e21 = (n - F.col("_c1")) * F.col("_c2").cast("double") / n
    e22 = (n - F.col("_c1")) * (n - F.col("_c2")) / n

    def term(o, e):
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    g2 = 2.0 * (
        term(o11, e11) + term(o12, e12) + term(o21, e21) + term(o22, e22)
    )
    return j.select(
        "w1",
        "w2",
        "n_pair",
        F.round(g2, 6).alias("g2"),
        F.round((o11 - e11) / F.sqrt(o11), 6).alias("t_score"),
    )


def readability_suite(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Readability index suite per document → (id, n_words,
    n_sentences, n_letters, n_polysyllables, ari, cli, smog): the
    three classics beyond Flesch — Automated Readability Index
    4.71·(chars/words) + 0.5·(words/sentences) − 21.43, Coleman–Liau
    0.0588·L − 0.296·S − 15.8 (L/S per 100 words), and SMOG
    1.043·√(polysyllables·30/sentences) + 3.1291 (words with ≥ 3
    vowel-group syllables). Same tokenizer and syllable heuristic as
    :func:`flesch_reading_ease`, all codegen, NULL on empty docs."""
    text = F.col(text_col)
    toks = F.filter(
        F.split(F.lower(text), r"[^a-z']+"), lambda x: x != F.lit("")
    )
    n_words = F.size(toks)
    n_sent = F.size(
        F.filter(
            F.split(text, r"[.!?]+"),
            lambda s: F.length(F.trim(s)) > 0,
        )
    )
    letters = F.aggregate(
        F.transform(
            toks,
            lambda w: F.length(F.regexp_replace(w, "[^a-z]", "")),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    poly = F.aggregate(
        F.transform(
            toks,
            lambda w: (
                F.size(
                    F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))
                )
                >= 3
            ).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    ok = (n_words > 0) & (n_sent > 0)
    wd = n_words.cast("double")
    sd = n_sent.cast("double")
    ari = (
        4.71 * (letters.cast("double") / wd) + 0.5 * (wd / sd) - 21.43
    )
    cli = (
        0.0588 * (letters.cast("double") * 100.0 / wd)
        - 0.296 * (sd * 100.0 / wd)
        - 15.8
    )
    smog = (
        1.043 * F.sqrt(poly.cast("double") * 30.0 / sd) + 3.1291
    )
    # ARI/CLI are rational in the counts and can land EXACTLY on a
    # 6dp half (doc 363 at sf0.01 does) — explicit half-up floor
    # instead of round(), which half-rounds differently per engine.
    hup = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        letters.alias("n_letters"),
        poly.alias("n_polysyllables"),
        F.when(ok, hup(ari)).alias("ari"),
        F.when(ok, hup(cli)).alias("cli"),
        F.when(ok, F.round(smog, 6)).alias("smog"),
    )


def lexical_diversity(
    df: DataFrame, token_col: str, group_col: str
) -> DataFrame:
    """Repetitiveness/diversity profile of a token stream per group →
    (grp, n_tokens, vocab, ttr, hapax_ratio, simpson_d, yule_k):
    type-token ratio, hapax share f1/V, Simpson's repeat probability
    D = Σc(c−1)/(N(N−1)), and Yule's K = 10⁴·(Σc² − N)/N² — the
    length-robust repetitiveness characteristic (K is invariant to
    corpus size for a fixed vocabulary distribution). The quick
    "template spam vs natural prose" discriminator that pairs with
    chao1/Good–Turing on the same type-frequency table.

    Two keyed aggregates (type-frequency table, then its moments);
    exact integer sums into IEEE ratios — engine-identical before the
    6dp round. Everything after the first groupBy is ≤ |vocab| rows."""
    freq = df.groupBy(
        F.col(group_col).alias("grp"), F.col(token_col).alias("_t")
    ).agg(F.count("*").alias("_c"))
    agg = freq.groupBy("grp").agg(
        F.sum("_c").alias("_n"),
        F.count("*").alias("_v"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("_f1"),
        F.sum(F.col("_c") * F.col("_c")).alias("_c2"),
    )
    n = F.col("_n").cast("double")
    v = F.col("_v").cast("double")
    return agg.select(
        "grp",
        F.col("_n").cast("long").alias("n_tokens"),
        F.col("_v").cast("long").alias("vocab"),
        F.round(v / n, 6).alias("ttr"),
        F.round(F.col("_f1").cast("double") / v, 6).alias("hapax_ratio"),
        F.round(
            F.when(
                F.col("_n") > 1,
                (F.col("_c2") - F.col("_n")).cast("double")
                / (n * (n - 1.0)),
            ),
            6,
        ).alias("simpson_d"),
        F.round(
            F.lit(1.0e4) * (F.col("_c2") - F.col("_n")).cast("double")
            / (n * n),
            6,
        ).alias("yule_k"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS algorithm) → (doc_id, fp_hash, fp_pos): slide a w-window over
    the char-k-gram hashes of the normalized text and keep each
    window's minimum (rightmost on ties), de-duplicated. Guarantees a
    shared fingerprint for any match of length ≥ k + w − 1 with
    density ~2/(w+1) — the local-document fingerprint that catches
    PARTIAL overlap (quotes, stitched passages) where whole-doc
    MinHash sees two different documents.

    Determinism contract: gram hash = first 8 md5 hex digits (32-bit,
    engine-replayable); window-min tie-break packs (hash, position)
    into ONE integer key h·2^20 + (2^20 − pos), so min(key) IS
    (min hash, rightmost pos) — pure integer arithmetic, identical in
    any engine. Positions are capped at 2^20 chars/doc (the pack
    width); longer docs should chunk first.

    Plan shape: one generator explode (≤ |chars| rows/doc), ONE
    doc-partitioned window pass (never global), then a distinct — all
    codegen, no UDF. The explode+window stage dominates, so a
    few-partition source (one small parquet file) is spread across
    the cluster first — every downstream window is doc-partitioned,
    so the repartition is the only shuffle added."""
    df = _spread(df)
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = df.select(
        F.col(id_col).alias("doc_id"), norm.alias("_s")
    ).filter(F.length("_s") >= k + w - 1)
    # Enforce the pack-width contract instead of documenting it: beyond
    # 2^20 + k - 1 normalized chars the (2^20 - pos) term goes negative
    # and bleeds into the hash field, silently corrupting window minima.
    # assert_true fails the job loudly, executor-side, with the doc id.
    max_len = 1048576 + k - 1
    base = base.filter(
        F.assert_true(
            F.length("_s") <= max_len,
            F.concat_ws(
                " ",
                F.lit("winnow_fingerprints: normalized doc exceeds the"),
                F.lit(f"2^20+k-1 ({max_len}) position cap — chunk first; doc_id ="),
                F.col("doc_id").cast("string"),
            ),
        ).isNull()
    )
    grams = base.select(
        "doc_id",
        (F.length("_s") - F.lit(k - 1)).alias("_ng"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("_s") - F.lit(k - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.col("_s").substr(i, F.lit(k)).alias("g"),
                ),
            )
        ).alias("_gr"),
    ).select(
        "doc_id",
        "_ng",
        F.col("_gr.pos").alias("_pos"),
        F.conv(F.substring(F.md5(F.col("_gr.g")), 1, 8), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    key = F.col("_h") * F.lit(1048576) + (F.lit(1048576) - F.col("_pos"))
    wmin = Window.partitionBy("doc_id").orderBy("_pos").rowsBetween(0, w - 1)
    fps = (
        grams.withColumn("_key", key)
        .withColumn("_wmin", F.min("_key").over(wmin))
        .filter(F.col("_pos") <= F.col("_ng") - F.lit(w - 1))
        .select("doc_id", "_wmin")
        .distinct()
    )
    return fps.select(
        "doc_id",
        F.floor(F.col("_wmin") / F.lit(1048576)).alias("fp_hash"),
        (F.lit(1048576) - F.col("_wmin") % F.lit(1048576)).alias("fp_pos"),
    )


def winnow_shared_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    w: int = 4,
    max_df: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """Partial-overlap candidate pairs from shared winnowing
    fingerprints → (id_a, id_b, n_shared): ordered pairs sharing ≥
    ``min_shared`` distinct fingerprint hashes, after dropping
    boilerplate hashes present in more than ``max_df`` documents (the
    standard winnowing index cap — without it a templated corpus
    yields quadratic candidates from fingerprints every document
    shares; the cap bounds per-hash join fan-out at max_df², exactly
    the LSH band-cap discipline).

    Plan: per-hash doc lists → df-cap filter → hash-keyed self-join
    (candidates scale with Σ df², never n²) → pair count."""
    fph = (
        winnow_fingerprints(df, text_col, id_col, k, w)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    dfreq = fph.groupBy("fp_hash").agg(F.count("*").alias("_df"))
    kept = fph.join(
        dfreq.filter(F.col("_df") <= max_df).select("fp_hash"), "fp_hash"
    )
    a = kept.select(F.col("fp_hash"), F.col("doc_id").alias("id_a"))
    b = kept.select(F.col("fp_hash"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ppl_tiers(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    tiers: int = 3,
) -> DataFrame:
    """CCNet-style perplexity tiering → (tier, n_docs, avg_score, lo,
    hi): bucket documents into head/middle/tail by their bigram-LM
    score (the CCNet recipe: train a LM on a clean reference, keep the
    head, downweight the tail). Tie-coherent terciles: a distinct
    score's tier comes from the POSITION of its first row in score
    order, so all equal-scoring docs land in the same tier (cleaner
    than ntile's tie-splitting and exactly replayable).

    Scale contract: the only global window walks the DISTINCT-score
    table (the midrank-pattern exemption — per-distinct-value
    aggregate rows, not documents); avg is an exact 1e-6-grid integer
    ratio, so both engines emit identical tier stats."""
    scores = bigram_lm_scores(df, text_col, id_col, lam=lam)
    s6 = F.floor(F.col("bigram_logprob") * 1e6 + F.lit(0.5))
    pv = scores.groupBy(s6.alias("_s6")).agg(F.count("*").alias("_c"))
    wv = (
        Window.partitionBy()
        .orderBy("_s6")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = pv.withColumn(
        "_bef", F.coalesce(F.sum("_c").over(wv), F.lit(0))
    ).withColumn("_n", F.sum("_c").over(Window.partitionBy()))
    # first-row position of this score is _bef+1; tier t covers
    # positions (ceil((t-1)·n/T), ceil(t·n/T)]
    tier = F.lit(1)
    for t in range(1, tiers):
        tier = tier + (
            F.col("_bef") >= F.ceil(F.lit(t) * F.col("_n") / F.lit(tiers))
        ).cast("int")
    agg = cum.groupBy(tier.alias("tier")).agg(
        F.sum("_c").alias("_nd"),
        F.sum(F.col("_s6") * F.col("_c")).alias("_ss"),
        F.min("_s6").alias("_lo"),
        F.max("_s6").alias("_hi"),
    )
    return agg.select(
        F.col("tier").cast("int"),
        F.col("_nd").cast("long").alias("n_docs"),
        F.round(
            F.col("_ss").cast("double") / F.col("_nd") / 1e6, 6
        ).alias("avg_score"),
        F.round(F.col("_lo") / 1e6, 6).alias("lo"),
        F.round(F.col("_hi") / 1e6, 6).alias("hi"),
    )


def mattr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
) -> DataFrame:
    """Moving-average type-token ratio (Covington & McFall 2010) →
    (id, n_tokens, n_windows, mattr): the mean TTR over every length-W
    sliding token window — the length-robust lexical-diversity
    standard (raw TTR collapses as documents grow; MATTR does not),
    the per-document companion to the corpus-level ``lexical_diversity``
    profile.

    Never enumerates windows: token position p counts as a "type" in
    window start i iff its previous same-token occurrence is < i, so
    its contribution is the INTERVAL of valid starts
    max(0, min(p, n−W) − max(p−W+1, prev_p+1, 0) + 1) — summed in one
    pass. Σ contributions / (windows · W) is an exact ratio of exact
    integers (no grid), engine-identical. One per-(doc, token) lag
    window + one per-doc aggregate; everything partitioned by doc,
    never global. Docs shorter than W tokens report NULL (explicit,
    not a silently-degenerate TTR)."""
    if window < 2:
        raise ValueError(f"mattr needs window >= 2, got {window}")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(word_tokens(F.col(text_col))).alias("_p", "_tok"),
    )
    wprev = (
        Window.partitionBy("_id", "_tok")
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = toks.withColumn(
        "_prev", F.coalesce(F.max("_p").over(wprev), F.lit(-1))
    )
    n_w = Window.partitionBy("_id")
    prev = prev.withColumn("_n", F.count("*").over(n_w))
    w = F.lit(window)
    # valid window starts are 0 .. n−W; position p is covered by starts
    # max(0, p−W+1) .. min(p, n−W) and counts while start > prev_p
    lo = F.greatest(
        F.col("_p") - w + 1, F.col("_prev") + 1, F.lit(0)
    )
    hi = F.least(F.col("_p"), F.col("_n") - w)
    contrib = F.greatest(hi - lo + 1, F.lit(0))
    agg = prev.groupBy("_id").agg(
        F.min("_n").alias("_nt"),
        F.sum(contrib).alias("_sd"),
    )
    n_windows = F.col("_nt") - window + 1
    val = F.when(
        F.col("_nt") >= window,
        F.col("_sd").cast("double")
        / n_windows.cast("double")
        / F.lit(float(window)),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("_nt").cast("long").alias("n_tokens"),
        F.when(F.col("_nt") >= window, n_windows)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_windows"),
        F.round(val, 6).alias("mattr"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """First-occurrence n-gram novelty per document → (id, n_grams,
    n_novel, novelty): the share of a document's DISTINCT word
    n-grams whose earliest corpus appearance (min doc id) is this
    document — the cheap "how much genuinely new text does each doc
    add" curve that corpus-growth audits read (a near-duplicate of an
    earlier doc scores ~0; templated feeds decay fast).

    One explode → per-(gram) min-id aggregate → count join: candidates
    are Σ grams, never pairs; all counts exact integers and novelty an
    exact ratio. Ordering contract: "first" = the smallest ``id_col``
    value, so ingestion order must be encoded in the id (true for
    crawl snapshots and the fixture's doc_id)."""
    if n < 1:
        raise ValueError(f"ngram_novelty needs n >= 1, got {n}")
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_ngrams(word_tokens(F.col(text_col)), n)).alias("_g"),
    ).distinct()
    first = grams.groupBy("_g").agg(F.min("_id").alias("_first"))
    per = (
        grams.join(first, "_g")
        .groupBy("_id")
        .agg(
            F.count("*").alias("_ng"),
            F.count(F.when(F.col("_first") == F.col("_id"), 1)).alias(
                "_nv"
            ),
        )
    )
    return per.select(
        F.col("_id").alias(id_col),
        F.col("_ng").cast("long").alias("n_grams"),
        F.col("_nv").cast("long").alias("n_novel"),
        F.round(
            F.col("_nv").cast("double") / F.col("_ng"), 6
        ).alias("novelty"),
    )


def bigram_conditional_entropy(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Conditional bigram entropy H(w2 | w1) per group → (grp,
    n_bigrams, n_distinct, cond_entropy): how predictable is the next
    word given the current one — the sequence-level repetitiveness
    readout that unigram ``token_entropy`` cannot see (template spam
    has near-zero H(w2|w1) even with a rich vocabulary).

    H = Σ (c12/N) · log2(c1/c12) over bigram counts c12 and left-
    unigram counts c1 — every ratio exact (integer counts); log2 is
    spelled ln(x)/ln(2) because ln is the one log the JVM and other
    engines compute bit-identically (native log2 implementations can
    differ in the last ulp), and each term floor-quantizes to the
    2^-20 grid before the sum so accumulation order cannot move the
    result. Two keyed aggregates + one join; bigrams never leave
    their group's partition."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.col(text_col).alias("_x"),
    ).select(
        "grp", word_tokens(F.col("_x")).alias("_t")
    ).filter(F.size("_t") >= 2)
    big = toks.select(
        "grp",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_t"), i).alias("w1"),
                    F.element_at(F.col("_t"), i + 1).alias("w2"),
                ),
            )
        ).alias("_b"),
    ).select("grp", F.col("_b.w1").alias("_w1"), F.col("_b.w2").alias("_w2"))
    c12 = big.groupBy("grp", "_w1", "_w2").agg(F.count("*").alias("_c12"))
    c1 = c12.groupBy("grp", "_w1").agg(F.sum("_c12").alias("_c1"))
    tot = c12.groupBy("grp").agg(
        F.sum("_c12").alias("_n"),
        F.count("*").alias("_d"),
    )
    j = c12.join(c1, ["grp", "_w1"]).join(tot, "grp")
    q = F.lit(1048576.0)
    term = F.floor(
        F.col("_c12").cast("double")
        / F.col("_n")
        * (
            F.log(F.col("_c1").cast("double") / F.col("_c12"))
            / F.log(F.lit(2.0))
        )
        * q
    )
    agg = j.groupBy("grp", "_n", "_d").agg(
        (F.sum(term) / q).alias("_h")
    )
    return agg.select(
        "grp",
        F.col("_n").cast("long").alias("n_bigrams"),
        F.col("_d").cast("long").alias("n_distinct"),
        F.round("_h", 6).alias("cond_entropy"),
    )


def entity_density(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Surface-entity density per document → (id, n_tokens, n_caps,
    n_nums, n_urls, cap_density, num_density): cheap NER-free entity
    signals — capitalized-token, numeric-token and URL-token counts
    over the RAW whitespace tokens. High cap/num density separates
    listings, tables and boilerplate from prose; URL density flags
    link farms. A standard cheap feature set for quality classifiers
    (plays the same role as the gopher_gate ratios).

    Classification is per-token prefix/whole-token tests on simple
    character classes (no word-boundary regex — `\\b` semantics
    differ across regex engines); one explode + one per-doc
    aggregate, all counts exact integers."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.filter(
                F.split(F.col(text_col), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("_t"),
    )
    is_cap = F.col("_t").rlike("^[A-Z][a-z]")
    is_num = F.col("_t").rlike("^[0-9][0-9.,%]*$")
    is_url = F.col("_t").rlike("^https?://")
    per = toks.groupBy("_id").agg(
        F.count("*").alias("_nt"),
        F.count(F.when(is_cap, 1)).alias("_nc"),
        F.count(F.when(is_num, 1)).alias("_nn"),
        F.count(F.when(is_url, 1)).alias("_nu"),
    )
    nt = F.col("_nt").cast("double")
    return per.select(
        F.col("_id").alias(id_col),
        F.col("_nt").cast("long").alias("n_tokens"),
        F.col("_nc").cast("long").alias("n_caps"),
        F.col("_nn").cast("long").alias("n_nums"),
        F.col("_nu").cast("long").alias("n_urls"),
        F.round(F.col("_nc") / nt, 6).alias("cap_density"),
        F.round(F.col("_nn") / nt, 6).alias("num_density"),
    )


def _word_ngram_windows(toks_arr: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, gram) — every length-n word window of a
    (doc_id, t: array<string>) table, with its 0-based start
    position. posexplode + per-doc lead() columns + plain concat so
    the whole construction stays in whole-stage codegen; the
    transform(sequence → slice → concat_ws) lambda this replaces was
    interpreted per window (~8× slower at sf0.1, same measurement as
    ``_word_ngram_counts_all``). Docs shorter than n emit nothing
    (the last lead is NULL on every row)."""
    tok = toks_arr.select(
        "doc_id", F.posexplode("t").alias("pos", "t0")
    )
    if n == 1:
        return tok.select("doc_id", "pos", F.col("t0").alias("gram"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = tok.select(
        "doc_id",
        "pos",
        "t0",
        *[F.lead("t0", k).over(w).alias(f"t{k}") for k in range(1, n)],
    )
    return led.filter(F.col(f"t{n - 1}").isNotNull()).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", *[F.col(f"t{k}") for k in range(n)]).alias("gram"),
    )


def remove_repeated_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """ExactSubstr-style repeated-substring removal WITH multiplicity
    → (doc_id, clean_text, n_removed): every token covered by a
    NON-FIRST occurrence of an n-gram that appears two or more times
    in the corpus — counting repeats WITHIN a document, unlike
    ``cut_repeated_spans``'s distinct-doc rule — is excised; the
    globally-first occurrence (min over the (doc_id, pos) total
    order) survives, so exactly one copy of each duplicated span is
    kept. This is the "keep one occurrence" semantics of the
    suffix-array ExactSubstr deduplicator of Lee et al.
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed at n-gram-window granularity so it runs as joins +
    aggregates instead of a sequential suffix array.

    Plan shape: one codegen posexplode + lead-window gram build
    (``_word_ngram_windows``); one
    gram-keyed aggregate carrying count(*) AND min(struct(doc, pos))
    in the same map-side-combined pass (the dedup head is tiny after
    the cnt >= 2 filter — the unique tail drops at the reducer);
    occurrences join the head on gram and the first occurrence is
    filtered out row-locally; covered positions explode n-wide,
    distinct, anti-join, and the survivors rebuild per-doc via
    array_sort over (pos, token) structs — no window function over
    the corpus, no Python. At 100 TB the gram key would ride as
    xxhash64(gram) exactly as in ``cut_repeated_spans(hash_grams=
    True)``; the string key stays here so the ANSI oracle replays
    the pipeline verbatim.
    """
    toks_arr = df.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("t")
    )
    wins = _word_ngram_windows(toks_arr, n)
    dup_head = (
        wins.groupBy("gram")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .filter(F.col("cnt") >= 2)
        .select(
            "gram",
            F.col("first.doc_id").alias("_fdoc"),
            F.col("first.pos").alias("_fpos"),
        )
    )
    covered = (
        wins.join(dup_head, "gram")
        .filter(
            ~((F.col("doc_id") == F.col("_fdoc")) & (F.col("pos") == F.col("_fpos")))
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tok = toks_arr.select("doc_id", F.posexplode("t").alias("pos", "token"))
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        toks_arr.select("doc_id", F.size("t").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def token_decontamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Token-level benchmark decontamination → (doc_id, n_tokens,
    n_contaminated, contaminated_frac): for each TRAINING document,
    the fraction of its tokens covered by at least one word n-gram
    window that also occurs in the held-out/eval set (the published
    recipe uses 13-grams; ``n`` is the knob). Upgrades the doc-level
    ``contamination`` op — a doc sharing one boilerplate gram scores
    ~n/len instead of being flagged wholesale, so the curation pass
    can threshold on the fraction (e.g. drop > 0.8, excise spans
    between 0.1 and 0.8 with ``remove_repeated_substrings``'s
    machinery).

    Scale shape: the eval side is tiny relative to a training corpus,
    so its distinct gram set BROADCASTS and the training windows scan
    is never shuffled for the probe; covered positions explode n-wide
    and the per-doc fraction is one partial-aggregated count joined
    back to the per-doc token count. Docs with no tokens surface a
    NULL fraction.
    """
    toks_arr = train.select(
        F.col(id_col).alias("doc_id"), word_tokens(F.col(text_col)).alias("t")
    )
    wins = _word_ngram_windows(toks_arr, n)
    test_grams = (
        ngram_rows(test, text_col, id_col, n).select("gram").distinct()
    )
    covered = (
        wins.join(F.broadcast(test_grams), "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        toks_arr.select("doc_id", F.size("t").alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("n_contaminated", F.lit(0))
                    / F.col("n_tokens").cast("double"),
                ),
                6,
            ).alias("contaminated_frac"),
        )
    )


def _word_ngram_counts(
    df: DataFrame, col: str, id_col: str, n: int
) -> DataFrame:
    """(doc_id, gram, cnt) word n-gram multiplicities (NOT distinct —
    BLEU clipping needs true counts). Single-order wrapper over
    :func:`_word_ngram_counts_all`."""
    return _word_ngram_counts_all(df, col, id_col, n).filter(
        F.col("n") == n
    ).drop("n")


def _word_ngram_counts_all(
    df: DataFrame, col: str, id_col: str, max_n: int
) -> DataFrame:
    """(doc_id, n, gram, cnt) word n-gram multiplicities for ALL
    orders 1..max_n in ONE pass: tokenize once, posexplode, attach
    the next max_n−1 tokens via window lead() inside the per-doc
    partition, then emit each order's gram by plain string concat —
    everything except the (tiny, max_n-wide) final explode stays in
    whole-stage codegen. This replaces the per-order
    transform(sequence→slice→concat) construction, whose interpreted
    higher-order lambda cost ~10 µs/window and made corpus BLEU
    ~8 scans × interpreted (measured 100 s → 14 s at sf0.1 for the
    4-order bleu entry)."""
    return _word_ngram_counts_all_tokens(
        df.select(
            F.col(id_col).alias("doc_id"),
            word_tokens(F.col(col)).alias("_toks"),
        ),
        "_toks",
        max_n,
    )


def _word_ngram_counts_all_tokens(
    toks_df: DataFrame, tok_col: str, max_n: int
) -> DataFrame:
    """`_word_ngram_counts_all` over an already-tokenized array column
    (r15 optimization round: lets ``bleu_corpus`` tokenize the pair
    table once instead of once per side per consumer).

    r16 optimization round: an in-row lead construction (per-order
    suffixes via slice, NULL-padded by arrays_zip, exploded once — no
    window, no exchange) was tried here and REVERTED: it moves the
    gram strings INTO the groupBy exchange, ~5x the shuffle bytes of
    the single-token window exchange it removes (perf_probe: 7.6 → 38
    MB per bleu run), the wrong trade at corpus scale even though the
    extra parallelism sometimes wins at sf0.1 (bimodal 3.8-18 s vs a
    steady 4.7-5.5 s). The window form shuffles tokens — already the
    minimal exact encoding — and its aggregate reuses the window's
    doc_id clustering, so gram strings never cross an exchange."""
    tok = toks_df.select(
        "doc_id",
        F.posexplode(F.col(tok_col)).alias("pos", "t0"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = tok.select(
        "doc_id",
        "t0",
        *[F.lead("t0", k).over(w).alias(f"t{k}") for k in range(1, max_n)],
    )
    grams = F.array(
        *[
            F.struct(
                F.lit(n).alias("n"),
                F.when(
                    F.col(f"t{n - 1}").isNotNull() if n > 1 else F.lit(True),
                    F.concat_ws(
                        " ", *[F.col(f"t{k}") for k in range(n)]
                    ),
                ).alias("gram"),
            )
            for n in range(1, max_n + 1)
        ]
    )
    return (
        led.select("doc_id", F.explode(grams).alias("_g"))
        .select("doc_id", F.col("_g.n").alias("n"), F.col("_g.gram").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("cnt"))
    )


def _clipped_gram_counts(
    pairs: DataFrame,
    cand_arr: Column,
    ref_arr: Column,
    max_n: int,
    sep: str,
) -> DataFrame:
    """(n, cnt, rcnt, clip) gram-level rows for the clipped-count
    generation metrics (BLEU on word grams, chrF on char grams) in ONE
    pass over the pair table (r16 optimization round, guide §2.4/§3.5).

    Previously each side ran its own posexplode → Exchange(doc_id) →
    Window(lead) → aggregate, and the two gram tables were then joined
    back together on (doc, n, gram) — two window shuffles, two
    aggregates, one join whose (broadcast) build side is O(distinct
    grams) at corpus scale. Here both element arrays explode
    side-tagged from the SAME pair row, ONE window partitioned by
    doc_id (ordered by side, then position; leads are side-guarded so
    no gram spans the candidate/reference boundary) builds the lead
    columns, and one aggregate counts candidate and reference
    multiplicities per (doc, n, gram) together — the join disappears,
    total shuffled element bytes are unchanged, and gram strings still
    never cross an exchange (the aggregate reuses the window's doc_id
    clustering).

    Exactness: the output group set is the union of both sides' grams
    — the FULL OUTER join's row set — with cnt/rcnt = 0 where a side
    lacks the gram, so BLEU's left join is replayed by
    ``least(cnt, rcnt)`` (candidate-absent rows contribute 0 to every
    downstream sum) and chrF's full outer by the rows themselves."""
    sided = pairs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("s"), cand_arr.alias("a")),
                F.struct(F.lit(1).alias("s"), ref_arr.alias("a")),
            )
        ).alias("_e"),
    ).select(
        "doc_id",
        F.col("_e.s").alias("s"),
        F.posexplode("_e.a").alias("pos", "t0"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "pos")
    led = sided.select(
        "doc_id",
        "s",
        "t0",
        *[F.lead("t0", k).over(w).alias(f"t{k}") for k in range(1, max_n)],
        # v{k}: the k-ahead element exists AND is the same side (lead
        # returns NULL past the partition end, and NULL == s is NULL —
        # both fail the when() guard below, replaying the per-side
        # window's frame-end NULLs)
        *[
            (F.lead("s", k).over(w) == F.col("s")).alias(f"v{k}")
            for k in range(1, max_n)
        ],
    )
    grams = F.array(
        *[
            F.struct(
                F.lit(n).alias("n"),
                F.when(
                    F.col(f"v{n - 1}") if n > 1 else F.lit(True),
                    F.concat_ws(
                        sep, *[F.col(f"t{k}") for k in range(n)]
                    ),
                ).alias("gram"),
            )
            for n in range(1, max_n + 1)
        ]
    )
    return (
        led.select("doc_id", "s", F.explode(grams).alias("_g"))
        .select("doc_id", "s", F.col("_g.n").alias("n"), F.col("_g.gram").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("doc_id", "n", "gram")
        .agg(
            F.count(F.when(F.col("s") == 0, 1)).alias("cnt"),
            F.count(F.when(F.col("s") == 1, 1)).alias("rcnt"),
        )
        .select(
            "n", "cnt", "rcnt", F.least("cnt", "rcnt").alias("clip")
        )
    )


def bleu_corpus(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str = "doc_id",
    max_n: int = 4,
) -> DataFrame:
    """Corpus BLEU (Papineni et al.) → single row (n_pairs, cand_len,
    ref_len, bp, p1..p{max_n}, bleu): modified (clipped) n-gram
    precision per order — each candidate n-gram credits at most its
    reference count — aggregated over the corpus BEFORE the geometric
    mean, with the brevity penalty exp(1 − ref/cand) for short
    candidates. The generation-eval yardstick beside ``rouge_l``
    (recall-oriented LCS) — BLEU is the precision side.

    max_n joins on (pair, gram) keys, all map-side-combined counts +
    exact integer sums; NULL bleu when any order's precision is zero
    (standard undefined-log convention, not smoothed).

    r15 optimization round (guide §2.4/§5): both sides' token arrays
    are materialized ONCE (eager localCheckpoint) — previously the
    regex tokenizer ran four times over the corpus (candidate grams,
    reference grams, and both length sums)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.col(cand_col)).alias("_ct"),
        word_tokens(F.col(ref_col)).alias("_rt"),
    ).localCheckpoint(eager=True)
    # r16 optimization round: both sides' gram counts and the clip come
    # from ONE side-tagged window pass over the pair table — see
    # _clipped_gram_counts (replaces two per-side window passes + a
    # gram-table join; identical sums by construction).
    j = _clipped_gram_counts(
        toks, F.col("_ct"), F.col("_rt"), max_n, " "
    ).select(F.col("n").alias("_n"), F.col("cnt"), F.col("clip"))
    per_n = j.groupBy("_n").agg(
        F.sum("cnt").alias("_tot"), F.sum("clip").alias("_clip")
    )
    pn = per_n.select(
        "_n",
        F.when(
            F.col("_tot") > 0, F.col("_clip") / F.col("_tot").cast("double")
        ).alias("_p"),
    )
    lens = toks.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.size(F.col("_ct"))).alias("_cl"),
        F.sum(F.size(F.col("_rt"))).alias("_rl"),
    )
    # Normalize over ALL max_n orders, not just orders present in the
    # candidate gram table: when every doc is shorter than n tokens the
    # order has no rows at all, and counting only present orders would
    # silently shrink the geometric mean's k (sacrebleu divides by
    # max_n regardless; a missing order is precision 0 → NULL bleu
    # under the unsmoothed convention; ADVICE r12).
    logs = pn.agg(
        F.sum(F.log("_p")).alias("_slog"),
        F.count(F.when(F.col("_p") > 0, 1)).alias("_npos"),
        F.lit(max_n).alias("_k"),
        *[
            F.min(F.when(F.col("_n") == n, F.col("_p"))).alias(f"_p{n}")
            for n in range(1, max_n + 1)
        ],
    )
    j = lens.crossJoin(F.broadcast(logs))
    cl = F.col("_cl").cast("double")
    rl = F.col("_rl").cast("double")
    # cl = 0 with rl > 0 is an infinite brevity penalty: pin bp to 0
    # explicitly (Spark IEEE gives exp(-inf) = 0 but DuckDB nulls the
    # division, so the twin would diverge without the guard)
    bp = (
        F.when(cl >= rl, F.lit(1.0))
        .when(cl > 0, F.exp(F.lit(1.0) - rl / cl))
        .otherwise(F.lit(0.0))
    )
    bleu = F.when(
        F.col("_npos") == F.col("_k"),
        bp * F.exp(F.col("_slog") / F.col("_k")),
    )
    return j.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("_cl").cast("long").alias("cand_len"),
        F.col("_rl").cast("long").alias("ref_len"),
        F.round(bp, 6).alias("bp"),
        *[
            F.round(F.col(f"_p{n}"), 6).alias(f"p{n}")
            for n in range(1, max_n + 1)
        ],
        F.round(bleu, 6).alias("bleu"),
    )


def chrf_corpus(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str = "doc_id",
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """Corpus chrF (Popović) → single row (n_pairs, chrp, chrr,
    chrf): character-n-gram F-score with recall weighted β² — the
    tokenizer-free generation metric that credits partial word
    matches BLEU misses (morphology, typos). Whitespace is stripped
    before n-gramming (standard chrF convention); per-order P/R are
    corpus-aggregated then macro-averaged over n = 1..max_n.

    Same (pair, gram)-keyed clipped-count machinery as
    ``bleu_corpus``, on substring grams — exact integer counts,
    IEEE-ordered ratios.

    r16 optimization round: both sides' char grams are counted in ONE
    side-tagged window pass (see _clipped_gram_counts — replaces two
    per-side window passes + the (doc, n, gram) full-outer join; the
    fused aggregate's group set IS the full-outer row set, with 0
    where a side lacks the gram)."""
    strip = lambda c: F.regexp_replace(  # noqa: E731
        F.lower(F.col(c)), r"\s+", ""
    )
    chars = lambda c: F.filter(  # noqa: E731
        F.split(strip(c), ""), lambda x: x != F.lit("")
    )
    j = _clipped_gram_counts(
        df.select(
            F.col(id_col).alias("doc_id"),
            chars(cand_col).alias("_ca"),
            chars(ref_col).alias("_ra"),
        ),
        F.col("_ca"),
        F.col("_ra"),
        max_n,
        "",
    ).select(F.col("n").alias("_n"), "cnt", "rcnt", "clip")
    per_n = j.groupBy("_n").agg(
        F.sum("cnt").alias("_tc"),
        F.sum("rcnt").alias("_tr"),
        F.sum("clip").alias("_cl"),
    )
    pr = per_n.select(
        F.when(F.col("_tc") > 0, F.col("_cl") / F.col("_tc").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("_p"),
        F.when(F.col("_tr") > 0, F.col("_cl") / F.col("_tr").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("_r"),
    )
    mac = pr.agg(
        (F.sum(F.floor(F.col("_p") * 1048576.0)) / F.lit(1048576.0)).alias(
            "_sp"
        ),
        (F.sum(F.floor(F.col("_r") * 1048576.0)) / F.lit(1048576.0)).alias(
            "_sr"
        ),
        # macro-average over ALL max_n orders — an order absent from
        # both gram tables contributes P = R = 0, it does not shrink
        # the divisor (ADVICE r12)
        F.lit(max_n).alias("_k"),
    )
    cnt = df.agg(F.count("*").alias("n_pairs"))
    j2 = cnt.crossJoin(F.broadcast(mac))
    p = F.col("_sp") / F.col("_k")
    r = F.col("_sr") / F.col("_k")
    b2 = beta * beta
    f = F.when(
        (b2 * p + r) > 0,
        (1.0 + b2) * p * r / (b2 * p + r),
    ).otherwise(F.lit(0.0))
    return j2.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(p, 6).alias("chrp"),
        F.round(r, 6).alias("chrr"),
        F.round(f, 6).alias("chrf"),
    )


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 5,
) -> DataFrame:
    """Term burstiness (Church–Gale) → (term, df_docs, cf,
    mean_per_doc, fano): content words clump — a term occurring at
    all tends to occur AGAIN in the same document — while function
    words spread evenly. mean_per_doc = cf/df over CONTAINING docs;
    fano = var/mean of the per-doc counts (sample variance, grid-
    floored mean, fxp sum). Fano >> 1 marks topical/content terms —
    a vocabulary-pruning and keyword-weighting signal orthogonal to
    plain df.

    One (doc, term)-count pass + one term-keyed aggregate carrying
    Σc and Σc² (exact integers), so the variance is closed-form —
    no second scan. ``min_df`` drops the unstable tail."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_tokens(F.col(text_col))).alias("_t"),
    )
    per_doc = toks.groupBy("_id", "_t").agg(F.count("*").alias("_c"))
    per_term = per_doc.groupBy("_t").agg(
        F.count("*").alias("_df"),
        F.sum("_c").alias("_cf"),
        F.sum(F.col("_c") * F.col("_c")).alias("_cf2"),
    ).filter(F.col("_df") >= min_df)
    dfd = F.col("_df").cast("double")
    mean = F.col("_cf").cast("double") / dfd
    var = F.when(
        F.col("_df") > 1,
        (F.col("_cf2") - dfd * mean * mean) / (dfd - 1.0),
    )
    fano = F.when(mean > 0, var / mean)
    return per_term.select(
        F.col("_t").alias("term"),
        F.col("_df").cast("long").alias("df_docs"),
        F.col("_cf").cast("long").alias("cf"),
        F.round(mean, 6).alias("mean_per_doc"),
        F.round(fano, 6).alias("fano"),
    )


def token_fertility(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility per language → (lang, n_docs, pieces,
    words, fertility): BPE-piece count over word count — the
    "tokens per word" budget number that decides how many real
    tokens a multilingual corpus costs. Languages the pretokenizer
    fragments (no latin script, heavy punctuation) surface with
    fertility >> 1. One aggregate pass, exact integer sums."""
    pieces = bpe_token_count(F.col(text_col))
    words = F.size(word_tokens(F.col(text_col)))
    agg = (
        df.select(F.col(lang_col).alias("lang"), pieces.alias("_p"), words.alias("_w"))
        .filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_p").alias("_pieces"),
            F.sum("_w").alias("_words"),
        )
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("_pieces").cast("long").alias("pieces"),
        F.col("_words").cast("long").alias("words"),
        F.round(
            F.when(
                F.col("_words") > 0,
                F.col("_pieces") / F.col("_words").cast("double"),
            ),
            6,
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Round-13 additions.


def wer_corpus(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus word error rate → single row (n_pairs, total_edits,
    ref_tokens, wer): Σ per-doc word-level Levenshtein distance over
    Σ reference tokens — THE transcription/generation fidelity metric
    (substitutions + insertions + deletions per reference word).

    Word-level edit distance rides the engines' native
    character-level ``levenshtein``: every distinct word across both
    sides maps to one unique BMP code point (dense_rank over the
    sorted vocabulary, offset 0x100, staying below the 0xD800
    surrogate range → vocabulary contract < 54,000 distinct words
    per call — aggregate/chunk first beyond that, the bounded-series
    discipline), each document re-encodes as a string of those code
    points, and char edits on the encoded strings ARE word edits.
    Any injective mapping gives the same distance, so engines only
    need internal consistency, not identical code pages. The per-doc
    re-encode walks a per-token transform over the sorted (pos, char)
    structs — interpreted, but one cheap lambda per token on the
    final doc-length arrays only."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.col(cand_col)).alias("_ct"),
        word_tokens(F.col(ref_col)).alias("_rt"),
    )
    both = toks.select(
        "doc_id", F.lit("c").alias("_side"), F.col("_ct").alias("_t")
    ).unionByName(
        toks.select(
            "doc_id", F.lit("r").alias("_side"), F.col("_rt").alias("_t")
        )
    )
    words = both.select(
        "doc_id", "_side", F.posexplode("_t").alias("_pos", "_w")
    )
    vocab = (
        words.select("_w")
        .distinct()
        .withColumn(
            "_code",
            F.dense_rank().over(Window.orderBy("_w")) + F.lit(255),
        )
    )
    ch = F.expr("decode(unhex(lpad(hex(_code), 4, '0')), 'UTF-16BE')")
    enc = (
        words.join(vocab, "_w")
        .groupBy("doc_id", "_side")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", ch.alias("_ch")))
                    ),
                    lambda s: s["_ch"],
                ),
            ).alias("_enc"),
            F.count("*").alias("_len"),
        )
    )
    c = enc.filter(F.col("_side") == "c").select(
        "doc_id", F.col("_enc").alias("_ce")
    )
    r = enc.filter(F.col("_side") == "r").select(
        "doc_id", F.col("_enc").alias("_re"), F.col("_len").alias("_rl")
    )
    pairs = toks.select("doc_id").join(c, "doc_id", "left").join(
        r, "doc_id", "left"
    )
    per = pairs.select(
        F.levenshtein(
            F.coalesce("_ce", F.lit("")), F.coalesce("_re", F.lit(""))
        ).alias("_d"),
        F.coalesce("_rl", F.lit(0)).alias("_rl"),
    )
    agg = per.agg(
        F.count("*").alias("n_pairs"),
        F.sum("_d").alias("_ed"),
        F.sum("_rl").alias("_rt"),
    )
    return agg.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("_ed").cast("long").alias("total_edits"),
        F.col("_rt").cast("long").alias("ref_tokens"),
        F.round(
            F.when(
                F.col("_rt") > 0,
                F.col("_ed") / F.col("_rt").cast("double"),
            ),
            6,
        ).alias("wer"),
    )


def ngram_compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Per-document n-gram compression proxy → (doc_id, n_grams,
    n_distinct, ratio): distinct/total character n-grams — the
    SQL-expressible stand-in for the gzip-compressibility quality
    signal (zlib is unavailable cross-engine). Templated/repetitive
    documents score low; natural prose sits high. The standard cheap
    repetition gate alongside the Gopher rules.

    Char grams via the same posexplode + lead construction as
    ``chrf_corpus`` (codegen end-to-end); one per-doc aggregate with
    exact integer counts. Docs shorter than ``n`` chars surface NULL
    ratio."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), ""),
                lambda x: x != F.lit(""),
            )
        ).alias("pos", "t0"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = tok.select(
        "doc_id",
        "t0",
        *[F.lead("t0", k).over(w).alias(f"t{k}") for k in range(1, n)],
    )
    grams = led.filter(F.col(f"t{n - 1}").isNotNull()).select(
        "doc_id",
        F.concat(*[F.col(f"t{k}") for k in range(n)]).alias("gram"),
    )
    per = grams.groupBy("doc_id").agg(
        F.count("*").alias("_tot"),
        F.count_distinct("gram").alias("_dis"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_tot", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("_dis", F.lit(0)).cast("long").alias("n_distinct"),
            F.round(
                F.when(
                    F.col("_tot") > 0,
                    F.col("_dis") / F.col("_tot").cast("double"),
                ),
                6,
            ).alias("ratio"),
        )
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Top adjacent-token-pair statistics → (rank, left, right, cnt):
    the corpus-wide most frequent adjacent word pairs — exactly the
    candidate table one BPE/WordPiece merge iteration scores, and the
    bigram collocation profile tokenizer training starts from. Ties
    rank deterministically by (cnt desc, left, right).

    Pairs via posexplode + one lead() per doc partition (codegen);
    one map-side-combined pair count. The top-k cut is a distributed
    TakeOrdered (orderBy + limit — per-partition heaps, never a
    single-partition sort of the corpus-scale pair table); only the
    k surviving rows pass through the rank window."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "t0"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        tok.withColumn("_t1", F.lead("t0").over(w))
        .filter(F.col("_t1").isNotNull())
        .groupBy(F.col("t0").alias("left"), F.col("_t1").alias("right"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )
    top = pairs.orderBy(
        F.col("cnt").desc(), F.col("left"), F.col("right")
    ).limit(top_k)
    wr = Window.orderBy(
        F.col("cnt").desc(), F.col("left"), F.col("right")
    )
    return top.withColumn("rank", F.row_number().over(wr)).select(
        "rank", "left", "right", F.col("cnt").cast("long").alias("cnt")
    )


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document script/character-class profile → (doc_id,
    n_chars, latin_frac, digit_frac, space_frac, cjk_frac,
    cyrillic_frac, other_frac): the unicode-block census behind
    script-level language routing and mojibake/garbage gates (a
    'en' doc that is 40% CJK is mislabeled or corrupted; a doc that
    is 30% 'other' is usually binary junk). Complements the n-gram
    ``lang_id`` heuristic, which assumes the script is already known.

    Pure codegen — each class count is length(text) minus the length
    with that class stripped (one regexp_replace per class, no
    per-char explode), all exact integer ratios."""
    text = F.col(text_col)
    n = F.length(text)

    def cls(pattern):
        return n - F.length(F.regexp_replace(text, pattern, ""))

    latin = cls(r"[A-Za-z]")
    digit = cls(r"[0-9]")
    # explicit class: Java \s includes \x0B, RE2's does not — spell
    # the set out so the SQL twin matches byte for byte
    space = cls("[ \t\n\r\f]")
    cjk = cls(r"[一-鿿]")
    cyr = cls(r"[Ѐ-ӿ]")
    other = n - latin - digit - space - cjk - cyr
    frac = lambda c: F.round(  # noqa: E731
        F.when(n > 0, c.cast("double") / n), 6
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_chars"),
        frac(latin).alias("latin_frac"),
        frac(digit).alias("digit_frac"),
        frac(space).alias("space_frac"),
        frac(cjk).alias("cjk_frac"),
        frac(cyr).alias("cyrillic_frac"),
        frac(other).alias("other_frac"),
    )


def capture_recapture(
    df: DataFrame, flag_a_col: str, flag_b_col: str
) -> DataFrame:
    """Chapman capture-recapture estimate of an undercounted
    population → single row (n, n_a, n_b, n_both, chapman, coverage_a,
    coverage_b): treat two independent detectors (two dedup methods,
    two PII filters, two quality gates) as capture samples; the
    bias-corrected Chapman estimator N̂ = (n_a+1)(n_b+1)/(m+1) − 1
    says how many TRUE positives exist beyond what either detector
    flagged, and coverage_x = n_x/N̂ is each detector's recall
    estimate — the standard 'how much dup/PII mass are we missing'
    audit.

    One conditional-count aggregate; the estimator is exact integer
    arithmetic divided once."""
    a = F.col(flag_a_col).cast("boolean")
    b = F.col(flag_b_col).cast("boolean")
    agg = df.agg(
        F.count("*").alias("_n"),
        F.count(F.when(a, 1)).alias("_na"),
        F.count(F.when(b, 1)).alias("_nb"),
        F.count(F.when(a & b, 1)).alias("_m"),
    )
    chap = (
        (F.col("_na") + 1).cast("double")
        * (F.col("_nb") + 1).cast("double")
        / (F.col("_m") + 1).cast("double")
        - 1.0
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_m").cast("long").alias("n_both"),
        F.round(chap, 6).alias("chapman"),
        F.round(
            F.when(chap > 0, F.col("_na") / chap), 6
        ).alias("coverage_a"),
        F.round(
            F.when(chap > 0, F.col("_nb") / chap), 6
        ).alias("coverage_b"),
    )


def burrows_delta(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_n: int = 50,
) -> DataFrame:
    """Burrows' Delta stylometric distance between groups → (group_a,
    group_b, delta): take the ``top_n`` corpus-wide most frequent
    words, compute each group's RELATIVE frequency per word, z-score
    each word across the groups, and Delta(a,b) = mean |z_a − z_b| —
    the standard authorship / style-drift measure (Burrows 2002):
    function-word usage fingerprints a source far more stably than
    content words. One token explode feeds everything; the z-score
    table is (top_n × groups)-scale; the pair join is groups² —
    dashboard-scale both. Relative frequencies are exact integer
    ratios; the across-group mean/sd and the final mean are IEEE over
    the bounded word table (replayed term-for-term in SQL)."""
    toks = df.select(
        F.col(group_col).alias("_g"),
        F.explode(word_tokens(F.col(text_col))).alias("_w"),
    )
    top = (
        toks.groupBy("_w")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_w"))
        .limit(top_n)
        .select("_w")
    )
    gt = toks.groupBy("_g").agg(F.count("*").alias("_n"))
    cell = (
        toks.join(F.broadcast(top), "_w")
        .groupBy("_g", "_w")
        .agg(F.count("*").alias("_cw"))
    )
    # complete the (group × word) grid: absent words are 0-frequency
    grid = gt.crossJoin(F.broadcast(top))
    f = grid.join(cell, ["_g", "_w"], "left").select(
        "_g",
        "_w",
        (
            F.coalesce(F.col("_cw"), F.lit(0)).cast("double")
            / F.col("_n")
        ).alias("_f"),
    )
    wq = Window.partitionBy("_w")
    kk = F.count("*").over(wq).cast("double")
    mean = F.sum("_f").over(wq) / kk
    sd = F.sqrt(
        F.sum((F.col("_f") - mean) * (F.col("_f") - mean)).over(wq)
        / (kk - 1.0)
    )
    z = f.select(
        "_g",
        "_w",
        F.when(sd > 0, (F.col("_f") - mean) / sd).otherwise(
            F.lit(0.0)
        ).alias("_z"),
    )
    a = z.select(
        F.col("_g").alias("group_a"),
        F.col("_w").alias("_w"),
        F.col("_z").alias("_za"),
    )
    b = z.select(
        F.col("_g").alias("group_b"),
        F.col("_w").alias("_w"),
        F.col("_z").alias("_zb"),
    )
    pairs = a.join(b, "_w").filter(F.col("group_a") < F.col("group_b"))
    return (
        pairs.groupBy("group_a", "group_b")
        .agg(
            F.round(F.avg(F.abs(F.col("_za") - F.col("_zb"))), 6).alias(
                "delta"
            )
        )
    )


def word_dispersion(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_n: int = 30,
) -> DataFrame:
    """Gries' DP dispersion for the ``top_n`` corpus words → (word,
    total, dp): DP = ½ Σ_parts |vᵢ − sᵢ|, where vᵢ is the word's
    share of its own occurrences in part i and sᵢ the part's share of
    the corpus — 0 = the word spreads exactly with the corpus, → 1 =
    it lives in one part. The burstiness-across-SOURCES complement to
    ``term_burstiness``'s within-time clumping: a high-frequency,
    high-DP token is boilerplate from one crawl source, not general
    language. One token explode; everything after is (top_n × parts)-
    scale with exact integer ratios."""
    toks = df.select(
        F.col(group_col).alias("_g"),
        F.explode(word_tokens(F.col(text_col))).alias("_w"),
    )
    top = (
        toks.groupBy("_w")
        .agg(F.count("*").alias("_tot"))
        .orderBy(F.col("_tot").desc(), F.col("_w"))
        .limit(top_n)
    )
    parts = toks.groupBy("_g").agg(F.count("*").alias("_n"))
    w_all = Window.partitionBy()
    parts = parts.withColumn(
        "_s", F.col("_n").cast("double") / F.sum("_n").over(w_all)
    )
    cell = (
        toks.join(F.broadcast(top.select("_w")), "_w")
        .groupBy("_w", "_g")
        .agg(F.count("*").alias("_cw"))
    )
    grid = top.crossJoin(F.broadcast(parts.select("_g", "_s")))
    f = grid.join(cell, ["_w", "_g"], "left").select(
        "_w",
        "_tot",
        "_s",
        (
            F.coalesce(F.col("_cw"), F.lit(0)).cast("double")
            / F.col("_tot")
        ).alias("_v"),
    )
    return (
        f.groupBy("_w", "_tot")
        .agg(
            F.round(
                0.5 * F.sum(F.abs(F.col("_v") - F.col("_s"))), 6
            ).alias("dp")
        )
        .select(
            F.col("_w").alias("word"),
            F.col("_tot").cast("long").alias("total"),
            "dp",
        )
    )


def _ac_automaton(needles: "list[str]"):
    """Build the Aho–Corasick automaton (goto/fail/output tables) for
    ``needles`` — plain dicts/lists, picklable into a UDF closure.
    States are ints; output lists needle INDEXES ending at a state."""
    goto: "list[dict[str, int]]" = [{}]
    out: "list[list[int]]" = [[]]
    for ni, nd in enumerate(needles):
        s = 0
        for ch in nd:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(ni)
    fail = [0] * len(goto)
    from collections import deque

    q = deque()
    for ch, s in goto[0].items():
        fail[s] = 0
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0)
            if fail[s] == s:
                fail[s] = 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def multi_needle_match(
    df: DataFrame,
    needles: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Aho–Corasick multi-pattern scan → (id, needle, n_matches,
    first_pos): every occurrence (OVERLAPPING included) of every
    needle, in ONE pass over each document regardless of how many
    needles there are — the decontamination primitive at scale,
    where per-needle ``instr`` scans cost O(needles × corpus) and
    a benchmark-suite blocklist has thousands of needles.
    ``first_pos`` is the 1-based position of the first match; docs
    that match nothing contribute no rows.

    The automaton (goto/fail/output of the trie) is built once
    driver-side — bounded by total needle length — and rides the UDF
    closure to every executor like a broadcast dim; the scan is an
    Arrow-batched ``row_udf`` (a per-character state machine has no
    Catalyst expression form; this is the documented UDF-boundary
    case). Each doc is touched exactly once."""
    if not needles:
        raise ValueError("multi_needle_match needs >= 1 needle")
    if len(set(needles)) != len(needles):
        raise ValueError("duplicate needles")
    goto, fail, out = _ac_automaton(needles)
    lens = [len(n) for n in needles]
    k = len(needles)

    def scan_one(t):
        counts = [0] * k
        first = [0] * k
        s = 0
        for pos, ch in enumerate(t):
            while s and ch not in goto[s]:
                s = fail[s]
            s = goto[s].get(ch, 0)
            for ni in out[s]:
                counts[ni] += 1
                if first[ni] == 0:
                    first[ni] = pos - lens[ni] + 2  # 1-based start
        return [
            {"ni": i, "n_matches": counts[i], "first_pos": first[i]}
            for i in range(k)
            if counts[i] > 0
        ]

    scan = row_udf(
        scan_one, "array<struct<ni:int, n_matches:int, first_pos:int>>"
    )
    ndl = F.array(*[F.lit(n) for n in needles])
    t = df.select(
        F.col(id_col), F.explode(scan(F.col(text_col))).alias("_m")
    )
    return t.select(
        id_col,
        F.element_at(ndl, F.col("_m.ni") + 1).alias("needle"),
        F.col("_m.n_matches").cast("long").alias("n_matches"),
        F.col("_m.first_pos").cast("long").alias("first_pos"),
    )


def vocabulary_richness(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document vocabulary-richness panel → (id, n_tokens,
    n_types, n_hapax, yules_k, honore_r): Yule's K = 10⁴·(Σm²Vm −
    N)/N² (repeat-rate, length-invariant) and Honoré's R =
    100·ln N/(1 − V1/V) (hapax-weighted) — the two classic
    lexical-diversity statistics a plain type-token ratio conflates
    with length. One explode + two keyed aggregates over the
    frequency spectrum; exact integer spectra, IEEE finals. Docs
    where every type is a hapax surface NULL R (the 1 − V1/V pole)."""
    toks = df.select(
        F.col(id_col),
        F.explode(word_tokens(F.col(text_col))).alias("_w"),
    )
    freq = toks.groupBy(id_col, "_w").agg(F.count("*").alias("_m"))
    agg = freq.groupBy(id_col).agg(
        F.sum("_m").alias("_n"),
        F.count("*").alias("_v"),
        F.count(F.when(F.col("_m") == 1, 1)).alias("_v1"),
        F.sum(F.col("_m") * F.col("_m")).alias("_sm2"),
    )
    n = F.col("_n").cast("double")
    vv = F.col("_v").cast("double")
    v1 = F.col("_v1").cast("double")
    k = 10000.0 * (F.col("_sm2").cast("double") - n) / (n * n)
    r = F.when(
        v1 < vv, 100.0 * F.log(n) / (1.0 - v1 / vv)
    )
    return agg.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        F.col("_v").cast("long").alias("n_types"),
        F.col("_v1").cast("long").alias("n_hapax"),
        F.round(k, 6).alias("yules_k"),
        F.round(r, 6).alias("honore_r"),
    )
