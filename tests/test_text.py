"""Text operators: token counting, quality metrics, lang-id, fingerprint."""

from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.operators import text as txt


def _one(spark, s):
    return spark.createDataFrame([(s,)], "text string")


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("a b   c",)], "text string"
    )
    got = [r["n"] for r in df.select(txt.token_count(F.col("text")).alias("n")).collect()]
    assert got == [0, 0, 1, 3]


def test_occurrence_count(spark):
    df = _one(spark, "the cat the dog theater")
    got = df.select(
        txt.occurrence_count(F.col("text"), "the").alias("n")
    ).first()["n"]
    assert got == 3  # substring semantics: 'theater' counts


def test_quality_metrics_known_values(spark):
    df = txt.quality_metrics(_one(spark, "Ab c."))
    r = df.first()
    assert r["q_chars"] == 5
    assert r["q_tokens"] == 2
    assert r["q_punct_ratio"] == 0.2  # one '.' of 5 chars
    assert r["q_upper_ratio"] == 0.2  # one 'A' of 5 chars


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is big"),
            (2, "el perro y los gatos es una"),
            (3, "le chat et les chiens est une"),
            (4, "der hund und die katze ist nicht"),
            (5, "你好世界"),
            (6, "zzz qqq xxx"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in txt.lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "zh", 6: "unknown"}


def test_fingerprint_normalization_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "hello worlds")],
        "doc_id int, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in txt.fingerprint(df).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_bpe_token_count_pieces(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "I'll go, won't you?"), (2, ""), (3, "abc123 x")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", txt.bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    # "I" "'ll" " go" "," " won" "'t" " you" "?" = 8 pieces
    assert got[1] == 8
    assert got[2] == 0
    assert got[3] == 3  # "abc" "123" " x"


def test_sentiment_score_polarity(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "good stuff and great taste but bad"),
            (2, "terrible hate"),
            (3, "nothing from lexicon"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", txt.sentiment_score(F.col("text")).alias("s")
        ).collect()
    }
    assert got[1] == round(1 / 3, 6)  # (2-1)/3
    assert got[2] == -1.0
    assert got[3] == 0.0


def test_tfidf_top_terms_exact(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id int, text string",
    )
    rows = {
        (r["doc_id"], r["term"]): r
        for r in txt.tfidf_top_terms(df, k=2).collect()
    }
    # apple: tf=2 in doc1, df=1 -> 2*ln(3)
    assert rows[(1, "apple")]["rank"] == 1
    assert rows[(1, "apple")]["tfidf"] == round(2 * math.log(3.0), 6)
    # durian tf=1 df=1 beats cherry tf=3 df=2 in doc3? 1*ln3=1.0986 vs 3*ln(1.5)=1.2164
    assert rows[(3, "cherry")]["rank"] == 1
    assert rows[(3, "durian")]["rank"] == 2


def test_rolling_fingerprint_known_values(spark):
    df = spark.createDataFrame(
        [(1, "ab"), (2, "  AB  "), (3, "a  b"), (4, "")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["rfp"]
        for r in df.select(
            "doc_id", txt.rolling_fingerprint(F.col("text")).alias("rfp")
        ).collect()
    }
    # h("ab") = (0*31 + 97)*31 + 98 = 3105
    assert got[1] == 3105
    # normalization: trim + lowercase -> identical to "ab"
    assert got[2] == 3105
    # inner whitespace collapses to one space: "a b" = (97*31 + 32)*31 + 98
    assert got[3] == (97 * 31 + 32) * 31 + 98
    # empty text hashes to the fold seed
    assert got[4] == 0


def test_redact_pii_masks_planted_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+spam@sub.example.co.uk now"),
            (2, "call +1 (555) 010-7788 today"),
            (3, "digits 12345 are fine, 2026-08-13 too"),
            (4, "both a@b.io and 555-010-9999 here"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", txt.redact_pii(F.col("text")).alias("clean")
        ).collect()
    }
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "call <PHONE> today"
    # short digit runs and dates survive (phone needs >= 8 chars)
    assert got[3] == "digits 12345 are fine, 2026-08-13 too"
    assert got[4] == "both <EMAIL> and <PHONE> here"


def test_repetition_metrics_planted_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),   # 4 identical trigrams
            (2, "one two three four five six"),     # all distinct
            (3, "hi there"),                        # < 3 tokens
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in txt.repetition_metrics(df).collect()}
    assert got[1]["n_grams"] == 4 and got[1]["n_distinct"] == 1
    assert got[1]["dup_frac"] == 0.75
    assert got[2]["n_grams"] == 4 and got[2]["dup_frac"] == 0.0
    assert got[3]["n_grams"] == 0 and got[3]["dup_frac"] == 0.0


def test_redact_pii_idempotent(spark):
    # scrubbing already-scrubbed text must be a no-op: the replacement
    # tokens contain no '@' and no digits, so neither pattern re-fires
    samples = [
        (i, s)
        for i, s in enumerate(
            [
                "a@b.io and c@d.org twice",
                "+44 20 7946 0958 then 555-010-1234",
                "mixed x1@y.z call (555) 010-9999 end",
                "no pii at all",
                "",
            ]
        )
    ]
    df = spark.createDataFrame(samples, "doc_id int, text string")
    once = df.select(
        "doc_id", txt.redact_pii(F.col("text")).alias("clean")
    )
    twice = once.select(
        "doc_id", txt.redact_pii(F.col("clean")).alias("clean")
    )
    assert {tuple(r) for r in once.collect()} == {
        tuple(r) for r in twice.collect()
    }


def test_contamination_planted_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here today"),
            (3, "quick brown fox jumps too"),
        ],
        "doc_id int, text string",
    )
    test = spark.createDataFrame(
        [(100, "a quick brown fox jumps far away")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["n_shared_grams"]
        for r in txt.contamination(train, test, n=4).collect()
    }
    # test 4-grams: "a quick brown fox", "quick brown fox jumps",
    # "brown fox jumps far", "fox jumps far away"
    # doc1 shares "quick brown fox jumps"; doc3 shares it too; doc2 none
    assert got == {1: 1, 3: 1}


def test_unigram_lm_scores_rank_and_reference(spark):
    """LM quality scoring: documents made of corpus-common tokens score
    higher than rare/OOV-heavy ones; scoring against an external
    reference treats reference-unseen tokens as smoothed OOV; empty
    docs produce no row."""
    from from_superset_to_clickhouse_spark.operators.text import (
        unigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the cat"),   # common tokens
            (2, "zyx qwv jkl pfft"),  # singletons
            (3, ""),                  # no tokens
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["lm_logprob"] for r in unigram_lm_scores(docs).collect()}
    assert set(got) == {1, 2}  # empty doc has no score
    assert got[1] > got[2]

    # external reference: doc 2's tokens are OOV there, scoring even lower
    ref = spark.createDataFrame(
        [(10, "the cat sat on the mat the cat")], "doc_id int, text string"
    )
    got_ref = {
        r["doc_id"]: r["lm_logprob"]
        for r in unigram_lm_scores(docs, ref=ref).collect()
    }
    assert got_ref[1] > got_ref[2]
    assert got_ref[2] < got[2]  # fully-OOV under the external model


def test_bm25_known_corpus(spark):
    from from_superset_to_clickhouse_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "cat cat cat"),        # tf saturation: 3x 'cat', short doc
            (2, "cat dog"),            # one of each query term
            (3, "dog dog bird fish"),  # longer doc, repeated 'dog'
            (4, "bird fish worm moss"),  # no query terms -> excluded
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(df, ["cat", "dog"], k=10).collect()
    got = {r["doc_id"]: (r["score"], r["rank"]) for r in rows}
    assert 4 not in got  # docs matching no query term never appear
    assert set(got) == {1, 2, 3}
    # ranks are 1..n, aligned with descending score
    ranked = sorted(rows, key=lambda r: r["rank"])
    assert [r["rank"] for r in ranked] == [1, 2, 3]
    assert all(
        a["score"] >= b["score"] for a, b in zip(ranked, ranked[1:])
    )
    # doc 2 hits BOTH terms at natural tf; idf is equal by symmetry
    # (df=2 for each term), so doc 2 must beat the single-term docs
    # whose repeated tf saturates under k1.
    assert ranked[0]["doc_id"] == 2


def test_bm25_idf_prefers_rare_terms(spark):
    from from_superset_to_clickhouse_spark.operators.text import bm25_topk

    # 'common' appears in every doc, 'rare' in one. Same tf, same dl:
    # the rare-term doc must outrank any common-term doc.
    df = spark.createDataFrame(
        [(i, "common filler") for i in range(1, 10)]
        + [(10, "rare filler")],
        "doc_id long, text string",
    )
    top = bm25_topk(df, ["common", "rare"], k=1).collect()[0]
    assert top["doc_id"] == 10


def test_bm25_indexed_equals_on_the_fly(spark, tmp_path):
    from from_superset_to_clickhouse_spark.operators.text import (
        bm25_topk,
        bm25_topk_indexed,
        build_inverted_index,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    terms = ["spark", "vector", "merge", "stream"]
    path = str(tmp_path / "idx")
    build_inverted_index(docs, path)
    fly = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    idx = [
        tuple(r)
        for r in bm25_topk_indexed(spark, path, terms, k=10).collect()
    ]
    assert idx == fly and len(fly) == 10
    # the postings read must prune to the query terms' bucket dirs
    import contextlib
    import io

    postings = spark.read.parquet(f"{path}/postings")
    probe = postings.filter(F.col("bucket").isin([3, 7]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()


def test_inverted_index_rebuild_replaces_the_whole_index(spark, tmp_path):
    """Rebuilding an index at the same path replaces every posting
    bucket: a term only the old corpus had matches nothing, exactly like
    BM25 over the new corpus."""
    from from_superset_to_clickhouse_spark.operators.text import (
        bm25_topk,
        bm25_topk_indexed,
        build_inverted_index,
    )

    schema = "doc_id long, text string"
    path = str(tmp_path / "idx")
    build_inverted_index(
        spark.createDataFrame([(1, "apple pie"), (2, "banana")], schema), path
    )
    new = spark.createDataFrame([(1, "zebra")], schema)
    build_inverted_index(new, path)
    assert bm25_topk(new, ["apple"]).collect() == []
    assert bm25_topk_indexed(spark, path, ["apple"]).collect() == []
    assert [r["doc_id"] for r in bm25_topk_indexed(spark, path, ["zebra"])
            .collect()] == [1]


def test_canonical_url_contract(spark):
    """Scheme/host lowercasing, scheme-aware default-port strip,
    fragment drop, tracking-param removal, param sorting, empty-path
    normalization — and malformed rows pass through trimmed, never
    merged into a parsed group."""
    cases = [
        ("HTTP://Example.COM:80/a/b?z=1&utm_source=x&a=2#frag",
         "http://example.com/a/b?a=2&z=1"),
        ("https://Example.com:443", "https://example.com/"),
        ("https://example.com/p?utm_campaign=c&fbclid=abc",
         "https://example.com/p"),
        # :443 is NOT default for http — must survive
        ("http://h:443/x", "http://h:443/x"),
        ("https://a.b/path/?b=2&a=1", "https://a.b/path/?a=1&b=2"),
        ("  not a url  ", "not a url"),
        ("https://www.site.org/?ref=nav", "https://www.site.org/"),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "i int, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", txt.canonical_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)
    # strip_www merges the www/apex split
    www = spark.createDataFrame(
        [("https://www.site.org/p",), ("https://site.org/p",)], "url string"
    )
    c = www.select(
        txt.canonical_url(F.col("url"), strip_www=True).alias("c")
    ).distinct()
    assert c.count() == 1


def test_nb_classifier_learns_planted_signal(spark):
    """Hashed NB trained on a corpus where 'excellent' marks label 1
    and 'terrible' marks label 0 must separate held-in docs by score;
    a token-free doc scores exactly the class prior; scoring is
    repartition-stable."""
    import math

    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "excellent wonderful product truly excellent", 1))
        else:
            rows.append((i, "terrible awful failure truly terrible", 0))
    rows.append((100, "excellent excellent excellent", None))  # score-only
    rows.append((101, "", None))  # token-free -> bare prior
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    train = df.filter(F.col("label").isNotNull())
    w = txt.nb_train_hashed(train, "label")
    prior = txt.nb_prior(train, "label")
    got = {
        r["doc_id"]: r["score"]
        for r in txt.nb_score_hashed(df, w, prior).collect()
    }
    assert got[100] > 0 and got[0] > 0
    assert got[1] < 0
    # prior: 20 pos, 20 neg -> ln(21/21) = 0
    assert math.isclose(got[101], 0.0, abs_tol=1e-12)
    got2 = {
        r["doc_id"]: r["score"]
        for r in txt.nb_score_hashed(
            df.repartition(13), w, prior
        ).collect()
    }
    assert all(math.isclose(got[k], got2[k], rel_tol=1e-9) for k in got)


def test_token_entropy_separates_repetition(spark):
    """A one-phrase spam doc has near-zero entropy at any length; a
    diverse doc of the same token count has high entropy; the empty doc
    surfaces with zeros instead of dropping."""
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "eight distinct words make this doc quite diverse"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in txt.token_entropy(df).collect()}
    assert got[1]["entropy"] == 0.0 and got[1]["distinct_tokens"] == 1
    # 8 equiprobable tokens -> ln(8)
    import math

    assert abs(got[2]["entropy"] - round(math.log(8), 6)) < 1e-9
    assert got[2]["ttr"] == 1.0
    assert got[3]["n_tokens"] == 0 and got[3]["entropy"] == 0.0


def test_gopher_gate_rules_fire_individually(spark):
    """Each planted defect trips exactly its own rule: too few words,
    symbol soup (alpha fraction), ellipsis-heavy lines, no stopwords —
    and a plain prose doc keeps."""
    prose = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "off to be seen again near the quiet river bank of town"
    )
    rows = [
        (1, prose),
        (2, "too short"),
        (3, "the of " + " ".join(["$$$##@"] * 30)),
        (4, "\n".join([f"line {i} trails off..." for i in range(10)])
            + "\nthe and of to be plus many more ordinary words here"),
        (5, " ".join(["wordy"] * 40)),  # no stopwords at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in txt.gopher_gate(df).collect()}
    assert got[1]["keep"] == 1
    assert got[2]["keep"] == 0 and got[2]["g_words"] == 2
    assert got[3]["keep"] == 0 and got[3]["g_alpha_frac"] < 0.8
    assert got[4]["keep"] == 0 and got[4]["g_ellipsis_frac"] > 0.3
    assert got[5]["keep"] == 0 and got[5]["g_stop_hits"] == 0


def test_bigram_lm_sequence_sensitivity_and_backoff(spark):
    """Word ORDER matters: a document whose bigrams match the reference
    outranks the same bag of words scrambled; sub-2-token docs produce
    no row; unseen-w1 bigrams (external ref) back off to the smoothed
    unigram term instead of -inf or NaN."""
    ref_rows = [(i, "the cat sat on the mat") for i in range(10)]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    probe = spark.createDataFrame(
        [
            (100, "the cat sat on the mat"),     # in-distribution order
            (101, "mat the on sat cat the"),     # same bag, wrong order
            (102, "zzz"),                        # one token: no row
            (103, "qqq zzz"),                    # both words OOV
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bigram_logprob"]
        for r in txt.bigram_lm_scores(probe, ref=ref).collect()
    }
    assert got[100] > got[101]
    assert 102 not in got
    import math

    assert math.isfinite(got[103]) and got[103] < got[101]


def test_lang_segments_mixed_and_unknown(spark):
    """Line-level roll-up surfaces an embedded second language that a
    whole-doc vote hides; all-unknown docs degrade to ('unknown', 0, 0
    langs); tie on line counts breaks to the smaller code."""
    rows = [
        (1, "the cat and the dog is here\nel perro los gatos las es una\n"
            "the end was near and the rest is history"),
        (2, "zzz qqq\nxxx yyy"),
        (3, "el perro los gatos es una\nthe dog and the cat is here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in txt.lang_segments(df).collect()}
    assert got[1]["dominant_lang"] == "en" and got[1]["n_langs"] == 2
    assert abs(got[1]["dominant_frac"] - 2 / 3) < 1e-6
    assert got[2]["dominant_lang"] == "unknown" and got[2]["n_langs"] == 0
    assert got[2]["dominant_frac"] == 0.0
    # one es line vs one en line -> tie -> 'en' (lexicographic)
    assert got[3]["dominant_lang"] == "en" and got[3]["n_langs"] == 2


def test_remove_boilerplate_lines_order_and_empty(spark):
    """Sitewide lines (> max_doc_freq docs) drop; unique lines survive
    in original order with original bytes (identity is the TRIMMED
    line, so indented footer copies still match); a doc made entirely
    of boilerplate comes back as empty text, not a missing row."""
    footer = "subscribe now"
    rows = [
        (1, f"alpha\n{footer}\nbeta"),
        (2, f"gamma\n  {footer}  \ndelta"),   # indented copy still drops
        (3, f"{footer}\nepsilon"),
        (4, footer),                           # all boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in txt.remove_boilerplate_lines(df, max_doc_freq=2).collect()
    }
    assert got[1] == "alpha\nbeta"
    assert got[2] == "gamma\ndelta"
    assert got[3] == "epsilon"
    assert got[4] == ""


def test_cut_repeated_spans_excises_shared_windows_only(spark):
    """Tokens under a 3-gram window shared by >= 2 docs are cut;
    overlapping windows merge their coverage; unique text survives
    untouched; a doc that is ENTIRELY boilerplate collapses to the
    empty string with every token counted removed."""
    df = spark.createDataFrame(
        [
            (1, "alpha the quick brown fox omega"),
            (2, "intro the quick brown fox outro"),
            (3, "totally unrelated words here"),
            (4, "the quick brown"),
            (5, "the quick brown"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in txt.cut_repeated_spans(df, n=3, min_docs=2).collect()
    }
    # docs 1+2 share windows "the quick brown" and "quick brown fox":
    # coverage merges to tokens {the,quick,brown,fox}.
    assert got[1] == ("alpha omega", 4)
    assert got[2] == ("intro outro", 4)
    assert got[3] == ("totally unrelated words here", 0)
    assert got[4] == ("", 3)
    assert got[5] == ("", 3)


def test_inverted_index_append_equals_rebuild(spark, tmp_path):
    """Incremental postings maintenance: index the first 60% of the
    corpus, append the rest, and BM25 serving equals both a full
    rebuild AND the on-the-fly computation — postings/doc-length
    contents are identical (disjoint doc batches each own their
    (term, doc) rows) and the stats refresh re-aggregates the
    doc-length table, never the corpus text."""
    from from_superset_to_clickhouse_spark.operators.text import (
        bm25_topk,
        bm25_topk_indexed,
        build_inverted_index,
        inverted_index_append,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    old = docs.filter(F.col("doc_id") < 30)
    new = docs.filter(F.col("doc_id") >= 30)
    terms = ["spark", "vector", "merge", "stream"]

    inc = str(tmp_path / "inc")
    build_inverted_index(old, inc)
    inverted_index_append(spark, inc, new)

    full = str(tmp_path / "full")
    build_inverted_index(docs, full)

    got_inc = [
        tuple(r) for r in bm25_topk_indexed(spark, inc, terms, k=10).collect()
    ]
    got_full = [
        tuple(r) for r in bm25_topk_indexed(spark, full, terms, k=10).collect()
    ]
    fly = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    assert got_inc == got_full == fly and len(fly) == 10

    # index contents identical, not just serving results
    for sub in ("postings", "doc_lengths"):
        a = sorted(map(tuple, spark.read.parquet(f"{inc}/{sub}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{full}/{sub}").collect()))
        assert a == b, sub


def test_cut_repeated_spans_hash_mode_equals_string_mode(spark):
    """The 100 TB shuffle-key route (hash_grams=True: joins keyed on
    xxhash64(gram), 8 bytes instead of span text) produces the exact
    same output as the oracle-replayable string-key default over the
    sf0.001 documents fixture."""
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = sorted(
        map(tuple, txt.cut_repeated_spans(docs, n=5, min_docs=2).collect())
    )
    b = sorted(
        map(
            tuple,
            txt.cut_repeated_spans(
                docs, n=5, min_docs=2, hash_grams=True
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_porter_stemmer_paper_golden_pairs():
    """The original 1980 Porter algorithm, pinned by the paper's own
    published example pairs (full-pipeline outputs) — public knowledge,
    hand-vendored. Also pins the fixture corpus vocabulary's stems:
    the bm25_stemmed oracle's validity rests on these being the
    hand-derived values, NOT on the engine's own stemmer."""
    from from_superset_to_clickhouse_spark.functions.stemmer import (
        porter_stem,
        stem_tokens,
    )

    golden = {
        "caresses": "caress", "ponies": "poni", "ties": "ti",
        "caress": "caress", "cats": "cat", "feed": "feed",
        "plastered": "plaster", "bled": "bled", "motoring": "motor",
        "sing": "sing", "conflated": "conflat", "troubled": "troubl",
        "sized": "size", "hopping": "hop", "tanned": "tan",
        "falling": "fall", "hissing": "hiss", "fizzed": "fizz",
        "failing": "fail", "filing": "file", "happy": "happi",
        "sky": "sky", "relational": "relat", "conditional": "condit",
        "rational": "ration", "valenci": "valenc", "hesitanci": "hesit",
        "digitizer": "digit", "conformabli": "conform",
        "radicalli": "radic", "differentli": "differ", "vileli": "vile",
        "analogousli": "analog", "vietnamization": "vietnam",
        "predication": "predic", "operator": "oper",
        "feudalism": "feudal", "decisiveness": "decis",
        "hopefulness": "hope", "callousness": "callous",
        "formaliti": "formal", "sensitiviti": "sensit",
        "sensibiliti": "sensibl", "triplicate": "triplic",
        "formative": "form", "formalize": "formal",
        "electriciti": "electr", "electrical": "electr",
        "hopeful": "hope", "goodness": "good", "revival": "reviv",
        "allowance": "allow", "inference": "infer",
        "airliner": "airlin", "gyroscopic": "gyroscop",
        "adjustable": "adjust", "defensible": "defens",
        "irritant": "irrit", "replacement": "replac",
        "adjustment": "adjust", "dependent": "depend",
        "adoption": "adopt", "homologou": "homolog",
        "communism": "commun", "activate": "activ",
        "angulariti": "angular", "homologous": "homolog",
        "effective": "effect", "bowdlerize": "bowdler",
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
    }
    bad = {w: (porter_stem(w), e) for w, e in golden.items()
           if porter_stem(w) != e}
    assert not bad, bad

    # the fixture vocabulary: exactly these six words change, to
    # exactly these stems (basis of the bm25_stemmed oracle's
    # one-surface-form-per-class argument)
    vocab = [
        "join", "hash", "row", "batch", "scan", "customer", "column",
        "filter", "small", "slow", "merge", "order", "vector", "line",
        "table", "data", "agg", "value", "key", "stream", "window",
        "spark", "a", "group", "part", "big", "sort", "query", "fast",
        "the", "dup",
    ]
    changed = {w: porter_stem(w) for w in vocab if porter_stem(w) != w}
    assert changed == {
        "customer": "custom", "merge": "merg", "table": "tabl",
        "value": "valu", "key": "kei", "query": "queri",
    }
    # inflected query forms land in the same classes
    assert stem_tokens(
        ["merged", "merges", "merging", "queries", "customers", "tables"]
    ) == ["merg", "merg", "merg", "queri", "custom", "tabl"]


def test_bm25_stemmed_unifies_inflections(spark):
    """stem=True folds inflected surface forms into one stem class:
    a doc with three inflections of 'merge' outscores a doc with one
    literal 'merge' for the query 'merged' (tf 3 vs 1); without
    stemming the same query matches nothing."""
    df = spark.createDataFrame(
        [
            (1, "merging merged merges filler filler"),
            (2, "merge filler filler filler filler"),
            (3, "join scan filter sort group"),
        ],
        ["doc_id", "text"],
    )
    rows = txt.bm25_topk(df, ["merged"], k=3, stem=True).collect()
    assert [r["doc_id"] for r in rows] == [1, 2]
    assert rows[0]["score"] > rows[1]["score"]
    # unstemmed, the same query only hits the literal surface form
    assert [
        r["doc_id"] for r in txt.bm25_topk(df, ["merged"], k=3).collect()
    ] == [1]


def test_sentence_chunks_windows_overlap_and_edges(spark):
    """Sentence windows: exact contents with overlap, short trailing
    window kept, single-sentence doc = one chunk, empty doc = no
    chunks, punctuation runs collapse, param validation."""
    from from_superset_to_clickhouse_spark.operators.text import (
        sentence_chunks,
    )

    docs = spark.createDataFrame(
        [
            (1, "A one. B two! C three? D four. E five."),
            (2, "Only sentence"),
            (3, ""),
            (4, "Run on!!  Then more...   And end"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_sent_chunk"], r["chunk_text"])
        for r in sentence_chunks(docs, n_sent=3, overlap=1).collect()
    }
    # doc 1: 5 sentences -> windows at 0, 2 (ends "E five." which,
    # lacking trailing split whitespace, keeps its period)
    assert got[(1, 0)] == (3, "A one B two C three")
    assert got[(1, 1)] == (3, "C three D four E five.")
    assert (1, 2) not in got
    assert got[(2, 0)] == (1, "Only sentence")
    assert not any(k[0] == 3 for k in got)
    assert got[(4, 0)] == (3, "Run on Then more And end")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        sentence_chunks(docs, n_sent=2, overlap=2)


def test_fix_mojibake_repairs_and_detects(spark):
    df = spark.createDataFrame(
        [
            # real mojibake: UTF-8 bytes of 'café résumé' read as Latin-1
            (0, "cafÃ© rÃ©sumÃ©"),
            # clean accented text: blind "repair" would corrupt; the
            # is_valid_utf8 gate must reject (lone 0xE9 is invalid UTF-8)
            (1, "café résumé naïve"),
            # pure ASCII: identity roundtrip, not flagged
            (2, "plain ascii"),
            # lone 'Ã' (0xC3 is an invalid UTF-8 tail on its own): kept
            (3, "stray Ã here"),
            # char above Latin-1 repertoire (ULTRA flag '✓'): gate 1
            # rejects before encode (Spark 4 would raise on unmappable)
            (4, "checked ✓ done"),
            # double space + multi-char sequence 'â€™' (U+2019 curly
            # apostrophe mojibake, 3-byte sequence)
            (5, "donâ€™t stop"),
        ],
        "id int, text string",
    )
    out = {
        r["id"]: (r["text_fixed"], r["was_mojibake"])
        for r in txt.fix_mojibake(df).collect()
    }
    assert out[0] == ("café résumé", True)
    assert out[1] == ("café résumé naïve", False)
    assert out[2] == ("plain ascii", False)
    assert out[3] == ("stray Ã here", False)
    assert out[4] == ("checked ✓ done", False)
    assert out[5] == ("don’t stop", True)


def test_fix_mojibake_roundtrip_property(spark):
    # any Latin-1-repertoire string, corrupted by the real UTF-8→Latin-1
    # misdecode, must be restored exactly and flagged
    originals = ["héllo wörld", "àéîõü mix", "ASCII only stays", "ñ"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(originals)], "id int, orig string"
    )
    corrupted = df.select(
        "id",
        "orig",
        F.decode(F.encode("orig", "UTF-8"), "ISO-8859-1").alias("text"),
    )
    got = {
        r["id"]: (r["text_fixed"], r["was_mojibake"], r["orig"])
        for r in txt.fix_mojibake(corrupted).collect()
    }
    for i, s in enumerate(originals):
        fixed, flagged, orig = got[i]
        assert fixed == s
        assert flagged == (s != s.encode("utf-8").decode("iso-8859-1"))


def test_rake_keywords_hand_computed(spark):
    from from_superset_to_clickhouse_spark.operators.text import rake_keywords

    # runs: [deep learning systems], [deep learning stack],
    # [modern compilers] — shared words pool their degree across runs
    text = (
        "deep learning systems and the deep learning stack of modern "
        "compilers"
    )
    df = spark.createDataFrame([(1, text)], "id long, text string")
    rows = rake_keywords(df, "id", "text", top_k=10).collect()
    got = {r.phrase: (r.n_words, r.score) for r in rows}
    # freq: deep 2, learning 2, systems/stack/modern/compilers 1
    # deg: deep 6, learning 6, systems 3, stack 3, modern 2, compilers 2
    # word scores: deep 3, learning 3, systems 3, stack 3, modern 2,
    # compilers 2
    assert got["deep learning systems"] == (3, 9.0)
    assert got["deep learning stack"] == (3, 9.0)
    assert got["modern compilers"] == (2, 4.0)
    assert len(got) == 3
    # equal scores tie-break lexicographically: stack before systems
    assert rows[0].phrase == "deep learning stack"
    assert rows[1].phrase == "deep learning systems"


def test_rake_dedups_repeated_phrases_and_caps_len(spark):
    from from_superset_to_clickhouse_spark.operators.text import rake_keywords

    df = spark.createDataFrame(
        [(1, "red fox and red fox and " + " ".join(["w%d" % i for i in range(9)]))],
        "id long, text string",
    )
    out = rake_keywords(df, "id", "text", top_k=10, max_phrase_len=8).collect()
    phrases = [r.phrase for r in out]
    assert phrases.count("red fox") == 1  # scored once despite 2 runs
    assert all(r.n_words <= 8 for r in out)  # 9-word run dropped


def test_soundex_published_examples(spark):
    from from_superset_to_clickhouse_spark.operators.text import soundex_expr
    from pyspark.sql import functions as F

    # canonical published test vectors for American Soundex,
    # including the H/W collapse rule (Ashcraft/Tymczak/Pfister)
    cases = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "White": "W300", "Jackson": "J250",
        "Washington": "W252", "Lee": "L000", "Gutierrez": "G362",
        "o'hara": "O600", "": None,
    }
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    got = {r.w: r.code for r in df.select(
        "w", soundex_expr(F.col("w")).alias("code")).collect()}
    for w, want in cases.items():
        assert got[w] == want, (w, got[w], want)


def test_pmi_pairs_hand_computed(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.text import pmi_pairs

    # "x y" always adjacent; "z" never near x/y
    docs = [(i, "x y filler%d z" % i) for i in range(4)]
    df = spark.createDataFrame(docs, "id long, text string")
    rows = {(r.w1, r.w2): r for r in pmi_pairs(
        df, "id", "text", window=1, min_count=4).collect()}
    assert set(rows) == {("x", "y")}
    r = rows[("x", "y")]
    # totals: 16 tokens, 12 window-1 pairs; x,y each appear 4 times
    want = math.log((4 / 12) / ((4 / 16) * (4 / 16)))
    assert abs(r.pmi - round(want, 6)) < 1e-9
    assert r.n_pair == 4


def test_readability_suite_known_text(spark):
    from from_superset_to_clickhouse_spark.operators.text import (
        readability_suite,
    )

    # 2 sentences, 8 words, hand-countable letters and polysyllables
    text = "The important algorithm works. Everyone understands it now."
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    r = readability_suite(df, "doc_id", "text").collect()[0]
    assert r.n_words == 8 and r.n_sentences == 2
    letters = sum(
        len([c for c in w if c.isalpha()]) for w in text.lower().split()
    )
    assert r.n_letters == letters
    # important(3), algorithm(3), everyone(4: e-eo-e... vowel groups
    # e,eo,e -> 3), understands(3) -> count words with >=3 groups
    assert r.n_polysyllables == 4
    ari = 4.71 * (letters / 8) + 0.5 * (8 / 2) - 21.43
    import math

    assert abs(r.ari - math.floor(ari * 1e6 + 0.5) / 1e6) < 1e-9
    smog = 1.043 * math.sqrt(4 * 30 / 2) + 3.1291
    assert abs(r.smog - round(smog, 6)) < 1e-9
    # empty doc -> NULL scores
    e = readability_suite(
        spark.createDataFrame([(2, "")], "doc_id int, text string"),
        "doc_id",
        "text",
    ).collect()[0]
    assert e.ari is None and e.smog is None


def test_winnow_fingerprints_rejects_oversize_doc(spark):
    """Docs longer than the 2^20+k-1 position-pack cap must fail loudly
    (executor-side assert), never silently corrupt fingerprints
    (ADVICE r10)."""
    import pytest

    from from_superset_to_clickhouse_spark.operators.text import (
        winnow_fingerprints,
    )

    big = "a" * (1048576 + 7)  # k=7 -> max_len = 2^20 + 6
    df = spark.createDataFrame([(1, big)], "doc_id int, text string")
    with pytest.raises(Exception, match="position cap"):
        winnow_fingerprints(df, "text", "doc_id", k=7, w=4).count()
    ok = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    assert winnow_fingerprints(ok, "text", "doc_id").count() > 0


def test_mattr_reference(spark):
    """Hand-checked MATTR: 'a b a b a b' with W=2 has 5 windows, every
    window 2 distinct tokens -> mattr 1.0; 'a a a a' W=2 -> every
    window 1 distinct of 2 -> 0.5; W=4 with 'a b c a b c' -> windows
    {a b c a},{b c a b},{c a b c}: 3 distinct of 4 each -> 0.75."""
    from from_superset_to_clickhouse_spark.operators.text import mattr

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "a a a a"),
            (3, "a b c a b c"),
            (4, "too short"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in mattr(df, "text", "doc_id", 2).collect()}
    assert out[1]["mattr"] == 1.0 and out[1]["n_windows"] == 5
    assert out[2]["mattr"] == 0.5
    o3 = {r["doc_id"]: r for r in mattr(df, "text", "doc_id", 4).collect()}
    assert o3[3]["mattr"] == 0.75 and o3[3]["n_windows"] == 3
    assert o3[4]["mattr"] is None and o3[4]["n_windows"] == 0


def test_mattr_matches_bruteforce(spark):
    """Closed-form interval counting == brute-force window enumeration
    on a pseudo-random token stream."""
    from from_superset_to_clickhouse_spark.operators.text import mattr

    toks = [f"w{(i * 7 + i * i) % 11}" for i in range(60)]
    text = " ".join(toks)
    W = 10
    wins = [toks[i:i + W] for i in range(len(toks) - W + 1)]
    expected = sum(len(set(w)) for w in wins) / len(wins) / W
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    got = mattr(df, "text", "doc_id", W).collect()[0]
    assert abs(got["mattr"] - round(expected, 6)) < 1e-9


def test_ngram_novelty_duplicate_scores_zero(spark):
    """A verbatim copy of an earlier doc has novelty 0; the first doc
    is all-novel; a half-overlapping doc lands in between."""
    from from_superset_to_clickhouse_spark.operators.text import (
        ngram_novelty,
    )

    base = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of doc 1
            (3, base + " and then some completely fresh new words appear"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in
           ngram_novelty(df, "text", "doc_id", n=3).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0
    assert 0.0 < out[3]["novelty"] < 1.0


def test_bigram_entropy_template_vs_varied(spark):
    """A deterministic repeating sequence has H(w2|w1) = 0; a stream
    where each left word precedes two equally likely successors has
    H = 1 bit."""
    from from_superset_to_clickhouse_spark.operators.text import (
        bigram_conditional_entropy,
    )

    template = " ".join(["a b c"] * 20) + " a"   # every bigram forced
    varied = " ".join(
        "a x a y" if i % 2 == 0 else "a y a x" for i in range(10)
    )
    df = spark.createDataFrame(
        [("t", template), ("v", varied)], "source string, text string"
    )
    out = {r["grp"]: r for r in
           bigram_conditional_entropy(df, "text", "source").collect()}
    assert out["t"]["cond_entropy"] == 0.0
    # left word 'a' splits 50/50 between x and y -> ~1 bit, diluted by
    # the deterministic x->a / y->a returns (~0.5 overall)
    assert 0.4 < out["v"]["cond_entropy"] <= 1.0


def test_entity_density_classifies_tokens(spark):
    """Capitalized words, numbers (with separators), and URLs count
    into their buckets; densities are exact ratios."""
    from from_superset_to_clickhouse_spark.operators.text import (
        entity_density,
    )

    txt = "Alice paid 1,200.50 at Bob's shop via https://pay.example.com today"
    df = spark.createDataFrame([(1, txt)], "doc_id int, text string")
    r = entity_density(df, "text", "doc_id").first()
    assert r["n_tokens"] == 9
    assert r["n_caps"] == 2      # Alice, Bob's
    assert r["n_nums"] == 1      # 1,200.50
    assert r["n_urls"] == 1
    assert abs(r["cap_density"] - round(2 / 9, 6)) < 1e-9


def test_remove_repeated_substrings_keeps_first_occurrence(spark):
    """ExactSubstr multiplicity semantics: a 3-gram duplicated WITHIN
    one document triggers removal of the later occurrence only; a
    cross-doc duplicate keeps the (doc_id, pos)-minimal copy; unique
    text is untouched."""
    df = spark.createDataFrame(
        [
            # intra-doc repeat: "a b c" at pos 0 and pos 4
            (1, "a b c x a b c"),
            # cross-doc repeat of doc 3's "p q r" — doc 2 is first
            (2, "p q r tail"),
            (3, "head p q r"),
            (4, "totally unique words here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in txt.remove_repeated_substrings(df, n=3).collect()
    }
    # doc 1: second "a b c" (pos 4-6) cut, first kept
    assert got[1] == ("a b c x", 3)
    # doc 2 holds the (doc,pos)-minimal "p q r" -> survives intact
    assert got[2] == ("p q r tail", 0)
    # doc 3's copy is non-first -> cut
    assert got[3] == ("head", 3)
    assert got[4] == ("totally unique words here", 0)


def test_remove_repeated_substrings_preserves_order_property(spark):
    """Property (VERDICT r11 item 4): the reassembled clean_text is
    always a subsequence of the original token stream — surviving
    tokens keep their relative order — and tokens NOT covered by any
    duplicated window all survive. Seeded generative corpus with
    planted intra- and cross-doc repeats."""
    import random

    rng = random.Random(421)
    vocab = [f"w{i}" for i in range(40)]
    dup_span = "s1 s2 s3 s4 s5"
    rows = []
    for d in range(30):
        toks = [rng.choice(vocab) for _ in range(rng.randrange(0, 25))]
        if d % 3 == 0:  # plant the shared span (sometimes twice)
            at = rng.randrange(0, len(toks) + 1)
            toks[at:at] = dup_span.split()
            if d % 6 == 0:
                toks.extend(dup_span.split())
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in txt.remove_repeated_substrings(df, n=5).collect()
    }
    orig = {d: t.split() for d, t in rows}
    for d, clean in out.items():
        ct = clean.split() if clean else []
        # subsequence check: scan original left-to-right
        it = iter(orig[d])
        assert all(any(o == c for o in it) for c in ct), (
            f"doc {d}: clean_text is not an ordered subsequence"
        )
        # removal count consistency
        assert len(ct) <= len(orig[d])


def test_token_decontamination_fraction(spark):
    """Per-token contamination: a train doc sharing one 3-gram with
    the eval set scores exactly n_covered/n_tokens; clean docs score
    0.0; overlapping windows merge coverage (no double count)."""
    train = spark.createDataFrame(
        [
            (1, "x y z shared tri gram tail one"),
            (2, "nothing in common at all"),
            # two overlapping eval grams -> merged coverage of 4 tokens
            (3, "shared tri gram four extra pad"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "prefix shared tri gram four suffix")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_contaminated"],
            r["contaminated_frac"],
        )
        for r in txt.token_decontamination(train, test, n=3).collect()
    }
    # doc 1: window "shared tri gram" covers 3 of 8 tokens
    assert got[1] == (8, 3, round(3 / 8, 6))
    assert got[2] == (5, 0, 0.0)
    # doc 3: windows "shared tri gram" + "tri gram four" merge to 4
    assert got[3] == (6, 4, round(4 / 6, 6))


def test_bleu_corpus_identity_and_known(spark):
    ident = spark.createDataFrame(
        [(1, "the cat sat on the mat", "the cat sat on the mat")],
        "doc_id long, cand string, ref string",
    )
    r = txt.bleu_corpus(ident, "cand", "ref").collect()[0]
    assert r["bleu"] == 1.0 and r["bp"] == 1.0
    assert r["p1"] == r["p4"] == 1.0
    # cand shares 2/3 unigrams, 1/2 bigrams, 0 trigrams -> NULL bleu
    part = spark.createDataFrame(
        [(1, "the cat xx", "the cat sat on")],
        "doc_id long, cand string, ref string",
    )
    rp = txt.bleu_corpus(part, "cand", "ref").collect()[0]
    assert rp["p1"] == round(2 / 3, 6) and rp["p2"] == 0.5
    assert rp["p3"] == 0.0 and rp["bleu"] is None
    import math
    assert abs(rp["bp"] - math.exp(1 - 4 / 3)) < 1e-6


def test_bleu_chrf_short_docs_normalize_over_max_n(spark):
    """Every doc shorter than max_n: the missing orders must count as
    precision 0 (NULL bleu, sacrebleu's divide-by-max_n convention) and
    as P = R = 0 in the chrF macro-average — not silently shrink k
    (ADVICE r12)."""
    short = spark.createDataFrame(
        [(1, "the cat", "the cat")], "doc_id long, cand string, ref string"
    )
    rb = txt.bleu_corpus(short, "cand", "ref").collect()[0]
    # p1 = p2 = 1 but orders 3,4 have no grams -> NULL bleu, NULL p3/p4
    assert rb["p1"] == 1.0 and rb["p2"] == 1.0
    assert rb["p3"] is None and rb["p4"] is None and rb["bleu"] is None
    tiny = spark.createDataFrame(
        [(1, "abc", "abc")], "doc_id long, cand string, ref string"
    )
    rc = txt.chrf_corpus(tiny, "cand", "ref").collect()[0]
    # orders 1-3 perfect, 4-6 missing -> macro average 3/6, not 3/3
    assert rc["chrp"] == 0.5 and rc["chrr"] == 0.5 and rc["chrf"] == 0.5


def test_bleu_clipping(spark):
    # candidate repeats 'the' 4x but ref has it twice -> clipped p1 = 2/4
    df = spark.createDataFrame(
        [(1, "the the the the", "the cat the mat")],
        "doc_id long, cand string, ref string",
    )
    r = txt.bleu_corpus(df, "cand", "ref", max_n=1).collect()[0]
    assert r["p1"] == 0.5


def test_chrf_corpus_identity(spark):
    df = spark.createDataFrame(
        [(1, "hello world", "hello world")],
        "doc_id long, cand string, ref string",
    )
    r = txt.chrf_corpus(df, "cand", "ref").collect()[0]
    assert r["chrp"] == 1.0 and r["chrr"] == 1.0 and r["chrf"] == 1.0
    half = spark.createDataFrame(
        [(1, "abcdefgh", "abcdefghabcdefgh")],
        "doc_id long, cand string, ref string",
    )
    rh = txt.chrf_corpus(half, "cand", "ref").collect()[0]
    assert rh["chrp"] == 1.0 and rh["chrr"] < 1.0


def test_term_burstiness_fano(spark):
    rows = []
    for d in range(5):
        rows.append((d, "filler " + "bursty " * (5 if d == 4 else 1)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["term"]: r for r in txt.term_burstiness(df, min_df=5).collect()}
    assert got["filler"]["fano"] == 0.0
    # counts 1,1,1,1,5: mean 1.8, var 3.2, fano 1.777778
    assert got["bursty"]["mean_per_doc"] == 1.8
    assert abs(got["bursty"]["fano"] - 3.2 / 1.8) < 1e-6


def test_token_fertility_contractions(spark):
    df = spark.createDataFrame(
        [(1, "don't stop", "en"), (2, "it's fine ok", "en")],
        "doc_id long, text string, lang string",
    )
    r = txt.token_fertility(df).collect()[0]
    # pieces: don|'t|stop = 3 ; it|'s|fine|ok = 4 -> 7
    # words: don't,stop / it's,fine,ok -> 5
    assert (r["pieces"], r["words"]) == (7, 5)
    assert r["fertility"] == 1.4


def test_burrows_delta_style_separation(spark):
    from from_superset_to_clickhouse_spark.operators.text import (
        burrows_delta,
    )

    # authors a and b share style (heavy 'the'); c is 'of'-heavy
    rows = (
        [("a", "the cat the dog the bird runs")] * 3
        + [("b", "the sun the moon the star shines")] * 3
        + [("c", "of stone of iron of glass made")] * 3
    )
    df = spark.createDataFrame(rows, "source string, text string")
    d = {
        (r["group_a"], r["group_b"]): r["delta"]
        for r in burrows_delta(df, "source", "text", top_n=10).collect()
    }
    assert d[("a", "b")] < d[("a", "c")]
    assert d[("a", "b")] < d[("b", "c")]


def test_word_dispersion_even_vs_concentrated(spark):
    from from_superset_to_clickhouse_spark.operators.text import (
        word_dispersion,
    )

    # 'the' appears evenly in both halves; 'zebra' only in part a
    rows = (
        [("a", "the zebra the zebra the")] * 2
        + [("b", "the bird the bird the")] * 2
    )
    df = spark.createDataFrame(rows, "source string, text string")
    d = {
        r["word"]: r["dp"]
        for r in word_dispersion(df, "source", "text", top_n=5).collect()
    }
    assert d["zebra"] > d["the"]
    assert d["the"] < 0.05  # spreads with the corpus
    assert d["zebra"] > 0.4  # lives in one part
