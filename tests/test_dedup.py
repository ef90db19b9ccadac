"""Dedup operators: exact, MinHash+LSH, SimHash — planted-duplicate
recall and idempotence (SURVEY.md §5 items 3-4; north-star surface)."""

import pytest
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.operators import dedup as ddp
from from_superset_to_clickhouse_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark, n=60):
    return load_table(spark, SF, "documents").filter(F.col("doc_id") < n)


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "other text")],
        "doc_id int, text string",
    )
    got = sorted(r["doc_id"] for r in ddp.exact_dedup(df).collect())
    assert got == [1, 3]  # 2 is a whitespace/case dup of 1


def test_exact_dedup_idempotent(spark):
    df = _docs(spark)
    once = ddp.exact_dedup(df)
    twice = ddp.exact_dedup(once)
    assert once.count() == twice.count() == df.count()  # fixture has no dups


def test_minhash_finds_planted_near_dups(spark):
    docs = _docs(spark, 40)
    # Plant near-dups: append two tokens to each text, shift ids by 1000.
    planted = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(planted)
    pairs = ddp.ngram_jaccard_pairs(both, threshold=0.5)
    hits = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted_pairs = {(i, i + 1000) for i in range(40)}
    recall = len(hits & planted_pairs) / len(planted_pairs)
    assert recall >= 0.9, f"planted near-dup recall {recall}"


def test_jaccard_identical_docs_is_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")], "doc_id int, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    got = ddp.jaccard_verify(df, cand, threshold=0.0).collect()
    assert len(got) == 1 and got[0]["jaccard"] == 1.0


def _planted_simhash(spark):
    """30 fixture docs plus a copy of each with " zz" appended (id +1000)."""
    docs = _docs(spark, 30)
    planted = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(planted)


def test_simhash_pairs_find_planted(spark):
    pairs = ddp.simhash_pairs(_planted_simhash(spark), max_hamming=3)
    hits = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted_pairs = {(i, i + 1000) for i in range(30)}
    recall = len(hits & planted_pairs) / len(planted_pairs)
    assert recall >= 0.8, f"simhash planted recall {recall}"


def test_simhash_candidates_superset_of_pairs(spark):
    """The candidates are simhash_pairs' own blocking stage, so the
    Hamming verify only ever removes pairs. The plain fixture docs hold
    one pair; the planted input has ~30 to find."""
    for docs in (_docs(spark, 30), _planted_simhash(spark)):
        cand = {
            (r["id_a"], r["id_b"])
            for r in ddp.simhash_dedup_candidates(docs).collect()
        }
        verified = {
            (r["id_a"], r["id_b"]) for r in ddp.simhash_pairs(docs).collect()
        }
        assert verified and verified <= cand


def test_simhash_families_skip_null_text(spark):
    """Both SimHash families pair no NULL text: a NULL doc emits no band
    rows (the arrow kernel used to give it the all-zero signature and
    pair two NULL docs at Hamming 0)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a b c d")], "doc_id int, text string"
    )
    for family in ("arrow", "md5"):
        assert ddp.simhash_pairs(df, hash_family=family).collect() == []


def test_incremental_minhash_equals_full_corpus_run(spark):
    """Two-batch incremental dedup (batch2 vs batch1's index, plus each
    batch against itself) must produce EXACTLY the pairs of one full
    run over the union corpus, with identical shared-band counts."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        minhash_band_rows,
        minhash_candidates,
        minhash_candidates_incremental,
    )
    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    full = {
        (r["id_a"], r["id_b"]): r["n_shared_bands"]
        for r in minhash_candidates(docs).collect()
    }

    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    nb1 = minhash_band_rows(b1)
    nb2 = minhash_band_rows(b2)
    empty_index = nb1.limit(0)
    p1 = minhash_candidates_incremental(nb1, empty_index)
    p2 = minhash_candidates_incremental(nb2, nb1)
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_bands"]
        for r in p1.collect() + p2.collect()
    }
    assert got == full and full  # identical pair sets, and non-trivial


def test_fuzzy_pairs_pigeonhole_finds_substitution_typos(spark):
    """Pigeonhole-blocked fuzzy matcher: every planted same-length
    substitution typo within max_dist is found (completeness for the
    Hamming case), every reported pair is levenshtein-verified, and
    raising the segment count keeps completeness (g=4 with d=1 needs
    3 shared slices — still implied by one substitution)."""
    rows = [
        (1, "ABCDEF01"),
        (2, "ABCDEF02"),   # dist 1 from id 1
        (3, "ABXDEF0Y"),   # dist 2 from id 1
        (4, "ABCDEF012"),  # length 9: excluded from same-length matching
        (5, "ZZZZZZZZ"),   # unrelated
    ]
    df = spark.createDataFrame(rows, "id int, s string")

    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in ddp.fuzzy_pairs_pigeonhole(df, "id", "s", max_dist=1).collect()
    }
    assert got == {(1, 2, 1)}

    # d=2 additionally reaches the double-substitution pair (g defaults
    # to 3 segments — completeness bound still holds)
    got2 = {
        (r["id_a"], r["id_b"])
        for r in ddp.fuzzy_pairs_pigeonhole(df, "id", "s", max_dist=2).collect()
    }
    assert got2 == {(1, 2), (1, 3), (2, 3)}

    # more segments than d+1: tighter blocks (shared-count >= g-d),
    # same answer for substitution typos
    got4 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in ddp.fuzzy_pairs_pigeonhole(
            df, "id", "s", max_dist=1, segments=4
        ).collect()
    }
    assert got4 == {(1, 2, 1)}


def test_fuzzy_pairs_symdelete_full_levenshtein(spark):
    """Symmetric-delete fuzzy matcher is complete for FULL Levenshtein:
    substitutions AND the cross-length insertion pair the pigeonhole
    scheme documents as missed; d=2 reaches double edits; nothing
    beyond max_dist is ever reported (exact verify)."""
    rows = [
        (1, "ABCDEF01"),
        (2, "ABCDEF02"),   # substitution, dist 1
        (3, "ABXDEF0Y"),   # dist 2 from ids 1/2
        (4, "ABCDEF012"),  # insertion, dist 1 from ids 1/2
        (5, "ZZZZZZZZ"),   # unrelated
    ]
    df = spark.createDataFrame(rows, "id int, s string")
    got1 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in ddp.fuzzy_pairs(df, "id", "s", max_dist=1).collect()
    }
    assert got1 == {(1, 2, 1), (1, 4, 1), (2, 4, 1)}

    got2 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in ddp.fuzzy_pairs(df, "id", "s", max_dist=2).collect()
    }
    assert got2 == {(1, 2, 1), (1, 4, 1), (2, 4, 1), (1, 3, 2), (2, 3, 2)}

    # brute-force completeness check on fixture customer names
    import itertools

    from from_superset_to_clickhouse_spark.sources.testdata import load_table

    cust = load_table(spark, "/root/testdata/sf0.001", "customer").limit(200)
    names = {r["c_custkey"]: r["c_name"] for r in cust.collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    brute = {
        (a, b, lev(names[a], names[b]))
        for a, b in itertools.combinations(sorted(names), 2)
        if lev(names[a], names[b]) <= 1
    }
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in ddp.fuzzy_pairs(cust, "c_custkey", "c_name", 1).collect()
    }
    assert got == brute and brute


def test_fuzzy_pairs_empty_and_exact_duplicates(spark):
    """Exact duplicates report dist 0; empty strings pair with each
    other (dist 0) and with nothing else; d>2 is refused (the delete
    neighborhood would explode combinatorially)."""
    import pytest as _pytest

    rows = [(1, "same"), (2, "same"), (3, ""), (4, ""), (5, "other")]
    df = spark.createDataFrame(rows, "id int, s string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in ddp.fuzzy_pairs(df, "id", "s", max_dist=1).collect()
    }
    assert got == {(1, 2, 0), (3, 4, 0)}
    with _pytest.raises(ValueError):
        ddp.fuzzy_pairs(df, "id", "s", max_dist=3).collect()


def test_set_similarity_join_is_exact_vs_brute_force(spark):
    """Prefix filtering must be lossless: the operator's output equals
    the brute-force all-pairs Jaccard join on the same sets, at two
    thresholds, on real fixture shingles."""
    import itertools

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sets = docs.select(
        "doc_id", ddp.shingle_strings(F.col("text"), 3).alias("sh")
    )
    local = {r["doc_id"]: set(r["sh"]) for r in sets.collect()}

    for t in (0.5, 0.8):
        brute = set()
        for a, b in itertools.combinations(sorted(local), 2):
            inter = len(local[a] & local[b])
            union = max(len(local[a] | local[b]), 1)
            j = round(inter / union, 6)
            if j >= t:
                brute.add((a, b, j))
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in ddp.set_similarity_join(sets, "doc_id", "sh", t).collect()
        }
        assert got == brute and brute  # exact, and non-trivial


def test_set_similarity_join_handles_empty_and_identical_sets(spark):
    """Identical sets report jaccard 1.0; empty sets never pair (their
    prefix is empty); disjoint sets never pair."""
    rows = [
        (1, ["x", "y", "z"]),
        (2, ["x", "y", "z"]),
        (3, []),
        (4, ["p", "q"]),
    ]
    df = spark.createDataFrame(rows, "id int, s array<string>")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ddp.set_similarity_join(df, "id", "s", 0.5).collect()
    }
    assert got == {(1, 2, 1.0)}


def test_containment_join_exact_vs_brute_force(spark):
    """Asymmetric containment: the prefix-filtered operator equals the
    brute-force ordered-pair containment on real fixture shingles, and
    catches the short-doc-in-long-doc case a Jaccard threshold misses."""
    import itertools

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sets = docs.select(
        "doc_id", ddp.shingle_strings(F.col("text"), 3).alias("sh")
    )
    local = {r["doc_id"]: set(r["sh"]) for r in sets.collect()}
    t = 0.8
    brute = {
        (a, b, round(len(local[a] & local[b]) / max(len(local[a]), 1), 6))
        for a, b in itertools.permutations(sorted(local), 2)
        if len(local[a] & local[b]) / max(len(local[a]), 1) >= t
    }
    got = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in ddp.containment_join(sets, "doc_id", "sh", t).collect()
    }
    assert got == brute

    # planted: excerpt swallowed by a superset — containment fires both
    # ways for identical sets, one way for strict subset; Jaccard at the
    # same threshold misses the strict-subset pair
    rows = [(1, ["a", "b", "c"]), (2, ["a", "b", "c", "d", "e", "f"])]
    df = spark.createDataFrame(rows, "id int, s array<string>")
    cont = {
        (r["id_a"], r["id_b"])
        for r in ddp.containment_join(df, "id", "s", 0.8).collect()
    }
    assert cont == {(1, 2)}
    jac = {
        (r["id_a"], r["id_b"])
        for r in ddp.set_similarity_join(df, "id", "s", 0.8).collect()
    }
    assert jac == set()


def test_fuzzy_join_two_table_linkage(spark):
    """Cross-table fuzzy join: noisy strings link to their canonical
    originals within max_dist; unrelated strings do not link; the
    length band excludes far-length pairs."""
    clean = spark.createDataFrame(
        [(1, "alpha"), (2, "bravo"), (3, "charlie")], "id int, s string"
    )
    noisy = spark.createDataFrame(
        [(10, "alpho"), (11, "brvo"), (12, "zzzzz"), (13, "charliecharlie")],
        "id int, s string",
    )
    got = {
        (r["nid"], r["cid"], r["dist"])
        for r in ddp.fuzzy_join(
            noisy.withColumnRenamed("id", "nid"),
            clean.withColumnRenamed("id", "cid"),
            "nid", "s", "cid", "s", max_dist=1,
        ).collect()
    }
    assert got == {(10, 1, 1), (11, 2, 1)}


def test_fuzzy_pairs_randomized_completeness(spark):
    """Randomized completeness: 150 random strings, each paired with a
    variant produced by 1-2 random edits (substitution/insertion/
    deletion). Every planted pair within its edit budget must be found
    — the symmetric-delete completeness theorem, exercised across edit
    types and positions. Seeded, deterministic."""
    import random

    rng = random.Random(42)
    alpha = "abcdefghij"
    rows, expected = [], set()
    for i in range(150):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(4, 12)))
        t = s
        n_edits = rng.randint(1, 2)
        for _ in range(n_edits):
            op = rng.choice(["sub", "ins", "del"])
            p = rng.randint(0, max(len(t) - 1, 0))
            if op == "sub" and t:
                t = t[:p] + rng.choice(alpha) + t[p + 1:]
            elif op == "ins":
                t = t[:p] + rng.choice(alpha) + t[p:]
            elif t:
                t = t[:p] + t[p + 1:]
        a, b = 2 * i, 2 * i + 1
        rows += [(a, s), (b, t)]
        # actual lev may undershoot n_edits (edits can cancel); the
        # operator contract is about TRUE distance, so recompute it
        prev = list(range(len(t) + 1))
        for x, ca in enumerate(s, 1):
            cur = [x]
            for y, cb in enumerate(t, 1):
                cur.append(min(prev[y] + 1, cur[-1] + 1, prev[y - 1] + (ca != cb)))
            prev = cur
        if 0 < prev[-1] <= 2:
            expected.add((a, b, prev[-1]))
    df = spark.createDataFrame(rows, "id int, s string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in ddp.fuzzy_pairs(df, "id", "s", max_dist=2).collect()
    }
    missed = expected - got
    assert not missed, f"planted pairs missed: {sorted(missed)[:5]}"


def test_phonetic_blocked_pairs_two_stage(spark):
    from from_superset_to_clickhouse_spark.operators.dedup import (
        phonetic_blocked_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "robert"), (2, "rupert"),     # same block, edit 2
            (3, "smith"), (4, "smyth"),       # same block, edit 1
            (5, "smith"),                     # identical -> excluded
            (6, "jackson"),                   # lone block
            (7, "ashcraft"), (8, "ashcroft"), # same block, edit 1
        ],
        "id long, name string",
    )
    got = {(r.id_a, r.id_b): r.edit_dist
           for r in phonetic_blocked_pairs(df, "id", "name").collect()}
    assert got == {(1, 2): 2, (3, 4): 1, (4, 5): 1, (7, 8): 1}


def test_jaro_winkler_known_values():
    from from_superset_to_clickhouse_spark.operators.dedup import (
        _jaro_winkler_py,
    )

    # published reference pairs (Winkler 1990 / record-linkage lit)
    assert abs(_jaro_winkler_py("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12
    assert abs(_jaro_winkler_py("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12
    assert abs(_jaro_winkler_py("DWAYNE", "DUANE") - 0.84) < 1e-12
    assert _jaro_winkler_py("same", "same") == 1.0
    assert _jaro_winkler_py("", "x") == 0.0
    assert _jaro_winkler_py("xy", "yx") == 0.0  # window 0: no matches
    # boost only above 0.7: shared prefix but low jaro stays unboosted
    j = _jaro_winkler_py("abcdefgh", "abcdxyz")
    assert abs(j - 0.6904761904761904) < 1e-12


def test_jaro_winkler_link_blocked(spark):
    from from_superset_to_clickhouse_spark.operators.dedup import (
        jaro_winkler_link,
    )

    rows = [
        (1, "blk", "jellyfish lamp"),
        (2, "blk", "jellyfish lamps"),   # near-dup, same block
        (3, "blk", "zzz qqq www"),       # same block, dissimilar
        (4, "other", "jellyfish lamp"),  # identical name, other block
    ]
    df = spark.createDataFrame(rows, "id int, blk string, nm string")
    got = jaro_winkler_link(df, "id", "nm", ["blk"], threshold=0.9)
    out = {(r.id_1, r.id_2): r.jw for r in got.collect()}
    assert set(out) == {(1, 2)}  # blocking kept 4 out; 3 scored below
    assert out[(1, 2)] > 0.97


def test_levenshtein_link_blocked(spark):
    from pyspark.sql import functions as F

    from from_superset_to_clickhouse_spark.operators.dedup import (
        levenshtein_link,
    )

    rows = [
        ("red bolt",), ("blue bolt",), ("red gear",), ("red bolt",),
    ]
    df = spark.createDataFrame(rows, "name string")
    blk = F.element_at(F.split(F.col("name"), " "), -1)
    got = levenshtein_link(df, "name", blk, max_dist=4).collect()
    # only the two bolts share a block ("red gear" never compared,
    # duplicate "red bolt" collapsed by DISTINCT)
    assert len(got) == 1
    r = got[0]
    assert (r.name_a, r.name_b, r.dist) == ("blue bolt", "red bolt", 4)


def test_neyman_allocation_favors_big_noisy_strata(spark):
    """n_h tracks N_h * S_h: a stratum with double the size AND double
    the spread gets ~4x the allocation; a zero-variance stratum gets
    ~0. Allocations round half-up and sum to ~n_target."""
    from from_superset_to_clickhouse_spark.operators.sampling import (
        neyman_allocation,
    )

    rows = (
        [("big_noisy", float(v % 20)) for v in range(200)]
        + [("small_calm", float(v % 10)) for v in range(100)]
        + [("constant", 5.0) for _ in range(100)]
    )
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r["stratum"]: r for r in
           neyman_allocation(df, "s", "v", 100).collect()}
    assert out["constant"]["alloc"] == 0
    assert out["big_noisy"]["alloc"] > out["small_calm"]["alloc"]
    total = sum(r["alloc"] for r in out.values())
    assert 98 <= total <= 102
    shares = sum(r["share"] for r in out.values())
    assert abs(shares - 1.0) < 1e-6


def test_url_snapshot_dedup_keeps_changed_content(spark):
    """Latest capture always kept; an older capture is dropped iff its
    MinHash similarity to the latest is >= threshold (unchanged
    recrawl) and kept when the content really changed."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        url_snapshot_dedup,
    )

    same = ("the quick brown fox jumps over the lazy dog and keeps "
            "jumping all day long without any rest at all")
    other = ("completely different page content now with a rewritten "
             "body and nothing shared with the previous capture text")
    df = spark.createDataFrame(
        [
            (1, "https://a.example.com/p1", 0, same),
            (2, "https://a.example.com/p1", 1, same),     # unchanged
            (3, "https://b.example.com/p2", 0, same),
            (4, "https://b.example.com/p2", 1, other),    # changed
            (5, "https://c.example.com/p3", 0, same),     # single snap
        ],
        "doc_id int, url string, snap int, text string",
    )
    out = {r["doc_id"]: r for r in
           url_snapshot_dedup(df, "url", "snap", "text", "doc_id").collect()}
    assert out[2]["keep"] and out[2]["sim_to_latest"] == 1.0
    assert not out[1]["keep"]          # unchanged recrawl drops
    assert out[4]["keep"]              # latest of p2
    assert out[3]["keep"]              # changed content survives
    assert out[3]["sim_to_latest"] < 0.5
    assert out[5]["keep"]              # single-capture URL


def test_url_snapshot_dedup_canonicalizes_urls(spark):
    """Tracking params / case / default ports collapse into one
    canonical group before the snapshot comparison."""
    from from_superset_to_clickhouse_spark.operators.dedup import (
        url_snapshot_dedup,
    )

    txt = ("some page body text that stays exactly identical across "
           "both of the crawl snapshots in this tiny test corpus")
    df = spark.createDataFrame(
        [
            (1, "HTTP://Site.Example.COM:80/a?utm_source=x&id=1", 0, txt),
            (2, "http://site.example.com/a?id=1", 1, txt),
        ],
        "doc_id int, url string, snap int, text string",
    )
    rows = url_snapshot_dedup(
        df, "url", "snap", "text", "doc_id"
    ).collect()
    assert len({r["url_canon"] for r in rows}) == 1
    out = {r["doc_id"]: r for r in rows}
    assert out[2]["keep"] and not out[1]["keep"]


def test_fellegi_sunter_rare_agreement_outweighs_common(spark):
    from from_superset_to_clickhouse_spark.operators.dedup import (
        fellegi_sunter,
    )

    # 10 records: 'lang' nearly constant (u high -> agreement cheap),
    # 'tag' nearly unique (u low -> agreement precious)
    recs = [(i, "en", f"t{i}") for i in range(8)]
    recs += [(8, "fr", "dup"), (9, "fr", "dup")]
    df = spark.createDataFrame(recs, "id long, lang string, tag string")
    cand = spark.createDataFrame(
        [(0, 1), (8, 9)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in fellegi_sunter(df, cand, "id", ["lang", "tag"]).collect()
    }
    # (0,1): agree on common lang, disagree on unique tags
    # (8,9): agree on BOTH including the rare tag -> far higher score
    assert out[(0, 1)]["n_agree"] == 1
    assert out[(8, 9)]["n_agree"] == 2
    assert out[(8, 9)]["score"] > out[(0, 1)]["score"] + 3.0
    # hand-check the (8,9) score: u_lang = (64+4)/100, u_tag = 12/100
    import math as m

    want = m.log(0.95 / 0.68) + m.log(0.95 / 0.12)
    assert abs(out[(8, 9)]["score"] - want) < 1e-5


_T = "the quick brown fox jumps over the lazy dog"
_DEGENERATE_DOCS = {
    "empty": [],
    "one_row": [(1, _T)],
    "null_text": [(1, None), (2, None), (3, "a b c d")],
    "all_null": [(1, None), (2, None)],
    "empty_text": [(1, ""), (2, ""), (3, "a b c d")],
    "identical": [(1, _T), (2, _T), (3, _T)],
}
_SAME3 = [(1, 2), (1, 3), (2, 3)]


def _sets(d):
    from from_superset_to_clickhouse_spark.operators.text import word_tokens

    return d.select("doc_id", word_tokens(F.col("text")).alias("s"))


# op -> (call, {case: sorted pairs}); a case left out gives no pairs.
# MinHash reads NULL text as the empty text (shingle ""), so NULL and
# empty docs pair in all 16 bands; SimHash pairs no NULL text; the set
# joins and fuzzy matchers drop NULL and match "" only to "".
_DEGENERATE_PAIRS = {
    "minhash_arrow": (
        lambda d: ddp.minhash_candidates(d),
        {"null_text": [(1, 2, 16)], "all_null": [(1, 2, 16)],
         "empty_text": [(1, 2, 16)],
         "identical": [p + (16,) for p in _SAME3]},
    ),
    "minhash_md5": (
        lambda d: ddp.minhash_candidates(d, hash_family="md5"),
        {"null_text": [(1, 2, 16)], "all_null": [(1, 2, 16)],
         "empty_text": [(1, 2, 16)],
         "identical": [p + (16,) for p in _SAME3]},
    ),
    "simhash_arrow": (
        lambda d: ddp.simhash_pairs(d),
        {"empty_text": [(1, 2, 0)], "identical": [p + (0,) for p in _SAME3]},
    ),
    "simhash_md5": (
        lambda d: ddp.simhash_pairs(d, hash_family="md5"),
        {"empty_text": [(1, 2, 0)], "identical": [p + (0,) for p in _SAME3]},
    ),
    "ngram_jaccard_pairs": (
        lambda d: ddp.ngram_jaccard_pairs(d),
        {"null_text": [(1, 2, 1.0)], "all_null": [(1, 2, 1.0)],
         "empty_text": [(1, 2, 1.0)],
         "identical": [p + (1.0,) for p in _SAME3]},
    ),
    "jaro_winkler_link": (
        lambda d: ddp.jaro_winkler_link(
            d.withColumn("b", F.lit(1)), "doc_id", "text", ["b"], 0.5
        ),
        {"empty_text": [(1, 2, "", "", 1.0)],
         "identical": [p + (_T, _T, 1.0) for p in _SAME3]},
    ),
    "simhash_dedup_candidates": (
        lambda d: ddp.simhash_dedup_candidates(d),
        {"empty_text": [(1, 2)], "identical": _SAME3},
    ),
    "set_similarity_join": (
        lambda d: ddp.set_similarity_join(_sets(d), "doc_id", "s"),
        {"identical": [p + (1.0,) for p in _SAME3]},
    ),
    "containment_join": (
        lambda d: ddp.containment_join(_sets(d), "doc_id", "s"),
        {"identical": sorted(
            q + (1.0,) for p in _SAME3 for q in (p, p[::-1])
        )},
    ),
    "fuzzy_pairs": (
        lambda d: ddp.fuzzy_pairs(d, "doc_id", "text"),
        {"empty_text": [(1, 2, 0)], "identical": [p + (0,) for p in _SAME3]},
    ),
    "fuzzy_pairs_pigeonhole": (
        lambda d: ddp.fuzzy_pairs_pigeonhole(d, "doc_id", "text"),
        {"empty_text": [(1, 2, 0)], "identical": [p + (0,) for p in _SAME3]},
    ),
}


@pytest.mark.parametrize("op", list(_DEGENERATE_PAIRS))
def test_dedup_pair_operators_on_degenerate_inputs(spark, op):
    """Every pair operator on empty, one-row, NULL-text (beside valid
    text, and all NULL), empty-text and three-identical-doc input: no
    pairs from fewer than two docs, every pair from identical docs (all
    16 bands, Hamming 0, Jaccard and Jaro–Winkler 1.0, both orders for
    containment)."""
    run, want = _DEGENERATE_PAIRS[op]
    for case, rows in _DEGENERATE_DOCS.items():
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = sorted(map(tuple, run(df).collect()))
        assert got == want.get(case, []), case


@pytest.mark.parametrize(
    "op", [ddp.minhash_band_rows, ddp.minhash_candidates,
           ddp.ngram_jaccard_pairs, ddp.simhash_pairs],
)
def test_unknown_hash_family_raises(spark, op):
    df = spark.createDataFrame([(1, _T)], "doc_id int, text string")
    with pytest.raises(ValueError, match="hash_family"):
        op(df, hash_family="xxhash64")
