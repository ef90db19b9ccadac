"""Connected components: known-graph correctness + convergence."""

import pytest
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark.operators.graph import (
    connected_components,
    dedup_survivors,
)


def test_cc_chain_triangle_isolated(spark):
    # chain 1-2-3-4 (multi-hop propagation), triangle 10-11-12,
    # pair 20-21, isolated 99 (via nodes universe)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 99: 99}
    surv = {
        r["node"]
        for r in dedup_survivors(
            connected_components(edges, nodes=nodes)
        ).collect()
    }
    assert surv == {1, 10, 20, 99}


def test_cc_long_chain_converges(spark):
    n = 40  # diameter 40 chain: loop must iterate, not just one pass
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iter=100).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_quality_survivors_argmax_and_ties(spark):
    """Quality-aware survivor: highest quality per component wins, ties
    break to the lowest node id; singleton components keep themselves."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
        quality_survivors,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src int, dst int")
    nodes = spark.createDataFrame([(n,) for n in (1, 2, 3, 10, 11, 99)], "node int")
    comp = connected_components(edges, nodes=nodes)
    attrs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2), (99, 1)],
        "doc_id int, n_chars int",
    )
    got = {
        r["component"]: (r["node"], r["n_chars"])
        for r in quality_survivors(comp, attrs, "n_chars").collect()
    }
    # cluster {1,2,3}: 2 and 3 tie on quality 9 → lowest id (2) wins
    assert got == {1: (2, 9), 10: (10, 4), 99: (99, 1)}


def test_pagerank_star_and_dangling(spark):
    # hub-and-spoke: a,b,c all point to z; z is dangling (outdeg 0).
    # After enough iterations z must dominate and a/b/c stay at the
    # teleport floor (nothing points at them).
    from from_superset_to_clickhouse_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("c", "z")], "src string, dst string"
    )
    got = {r["node"]: r["pr"] for r in pagerank(edges, iters=5).collect()}
    assert set(got) == {"a", "b", "c", "z"}
    floor = 0.15 / 4
    assert got["a"] == got["b"] == got["c"] == pytest.approx(floor)
    # z gets teleport + 0.85 * (sum of the three spokes' full rank)
    assert got["z"] == pytest.approx(floor + 0.85 * 3 * floor)
    # dangling mass is dropped, not redistributed (declared semantics):
    assert sum(got.values()) < 1.0


def test_pagerank_cycle_uniform_fixpoint(spark):
    # a→b→c→a: by symmetry the uniform vector is the exact fixpoint,
    # so any iteration count must return exactly 1/3 per node.
    from from_superset_to_clickhouse_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["pr"] for r in pagerank(edges, iters=4).collect()}
    for v in got.values():
        assert v == pytest.approx(1.0 / 3.0, abs=1e-9)


def test_label_propagation_spread_clamp_ties(spark):
    """Two seeds spread along a path; the midpoint with equal votes
    takes the SMALLEST label; seeds stay clamped even when outvoted;
    unreached nodes stay NULL."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        label_propagation,
    )

    # path 1-2-3-4-5 with seeds at both ends, plus isolated pair 8-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src long, dst long"
    )
    seeds = spark.createDataFrame(
        [(1, 10), (5, 20)], "node long, label int"
    )
    # iters=2 reaches every path node exactly once from its nearest
    # seed; a third synchronous round would tie node 4 between its
    # label-10 and label-20 neighbors (tie -> 10) — declared semantics
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, iters=2).collect()
    }
    assert got[1] == 10 and got[5] == 20  # clamped
    assert got[2] == 10 and got[4] == 20  # nearest seed wins
    assert got[3] == 10  # equal votes from both sides -> smallest label
    assert got[8] is None and got[9] is None  # never reached
    # clamp under pressure: seed 5 surrounded by label-10 neighbors
    edges2 = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5)], "src long, dst long"
    )
    seeds2 = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (5, 20)], "node long, label int"
    )
    got2 = {
        r["node"]: r["label"]
        for r in label_propagation(edges2, seeds2, iters=2).collect()
    }
    assert got2[5] == 20


def test_connected_components_incremental_merges_and_news(spark):
    """Folding a batch into an existing assignment: a new edge merges
    two old components to the global min label; brand-new nodes form
    their own components; untouched components keep their labels; and
    the result equals a full recompute over all edges."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    e1 = spark.createDataFrame(
        [(1, 2), (5, 6), (10, 11)], "src long, dst long"
    )
    comp = connected_components(e1)
    # new batch: bridge {1,2} and {5,6} via 2-5; fresh pair 20-21;
    # attach new node 30 to the untouched {10,11} via 11-30
    e2 = spark.createDataFrame(
        [(2, 5), (20, 21), (11, 30)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_incremental(comp, e2).collect()
    }
    full = {
        r["node"]: r["component"]
        for r in connected_components(e1.union(e2)).collect()
    }
    assert got == full
    assert got[5] == 1 and got[6] == 1  # merged down to global min
    assert got[20] == 20 and got[21] == 20
    assert got[10] == 10 and got[30] == 10


def test_label_propagation_string_labels(spark):
    """ADVICE r6 low: the (count DESC, label ASC) tie-break negates the
    COUNT, not the label — string labels must work (the old -label form
    cast-failed under ANSI or NULLed the vote)."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame(
        [(1, "alpha"), (5, "beta")], "node long, label string"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, iters=2).collect()
    }
    assert got[1] == "alpha" and got[2] == "alpha"
    assert got[4] == "beta" and got[5] == "beta"
    assert got[3] == "alpha"  # tie -> lexicographically smallest label


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles; duplicate/reversed/self-loop edges must not
    change the count."""
    from from_superset_to_clickhouse_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (0, 1), (5, 6)]
    edges = spark.createDataFrame(noisy, "src long, dst long")
    assert triangle_count(edges).first()["n_triangles"] == 4
    # a path has none
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(path).first()["n_triangles"] == 0


def test_cooccurrence_counts_groups_not_rows(spark):
    """Pair counts are per-GROUP (distinct first): a user repeating an
    item doesn't inflate support; min_count prunes."""
    from from_superset_to_clickhouse_spark.operators.graph import cooccurrence

    rows = [
        (1, "a"), (1, "b"), (1, "b"),  # dup (1,b) must not double-count
        (2, "a"), (2, "b"), (2, "c"),
        (3, "a"), (3, "c"),
    ]
    df = spark.createDataFrame(rows, "g long, i string")
    got = {
        (r["item_a"], r["item_b"]): r["n_groups"]
        for r in cooccurrence(df, "g", "i").collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 1}
    got2 = {
        (r["item_a"], r["item_b"])
        for r in cooccurrence(df, "g", "i", min_count=2).collect()
    }
    assert got2 == {("a", "b"), ("a", "c")}


def test_triangle_count_degree_orientation_same_count(spark):
    """Hub mitigation: degree orientation must count the SAME triangles
    while bounding a hub's forward adjacency — a star-with-rim graph
    (hub 0 connected to all, rim a cycle) has exactly n_rim triangles
    under both orientations."""
    from from_superset_to_clickhouse_spark.operators.graph import triangle_count

    n = 8
    star = [(0, i) for i in range(1, n + 1)]
    rim = [(i, i % n + 1) for i in range(1, n + 1)]
    edges = spark.createDataFrame(star + rim, "src long, dst long")
    by_id = triangle_count(edges).first()["n_triangles"]
    by_deg = triangle_count(edges, orient="degree").first()["n_triangles"]
    assert by_id == by_deg == n
    import pytest as _pytest

    with _pytest.raises(ValueError, match="orient"):
        triangle_count(edges, orient="random")


def test_cooccurrence_max_basket_drops_bot_groups(spark):
    """max_basket drops the pathological group BEFORE the self-join;
    counts then reflect only sane baskets."""
    from from_superset_to_clickhouse_spark.operators.graph import cooccurrence

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b")] + [
        (9, x) for x in "abcdefgh"  # bot basket of 8
    ]
    df = spark.createDataFrame(rows, "g long, i string")
    got = {
        (r["item_a"], r["item_b"]): r["n_groups"]
        for r in cooccurrence(df, "g", "i", max_basket=5).collect()
    }
    assert got == {("a", "b"): 2}  # bot group contributed nothing


def test_shortest_hops_bfs_distances_truncation_multisource(spark):
    """BFS hop counts on a hand-built path+branch graph: exact
    distances, max_hops truncation (distant nodes absent), multi-source
    minimum, and disconnected nodes never appear."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        shortest_hops,
    )

    # path 1-2-3-4-5-6 plus branch 3-7; isolated edge 100-101
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (3, 7), (100, 101)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["hops"])
        for r in shortest_hops(edges, [1], max_hops=3).collect()
    }
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3), (7, 3)}  # 5,6 cut off

    # multi-source: min over sources; undirected symmetry
    got2 = {
        (r["node"], r["hops"])
        for r in shortest_hops(edges, [1, 5], max_hops=2).collect()
    }
    assert got2 == {
        (1, 0), (5, 0), (2, 1), (4, 1), (3, 2), (6, 1),
    }
    # disconnected component unreached from 1 even with slack
    far = {
        r["node"] for r in shortest_hops(edges, [1], max_hops=10).collect()
    }
    assert far == {1, 2, 3, 4, 5, 6, 7}


def test_kcore_peel_cascade(spark):
    from from_superset_to_clickhouse_spark.operators.graph import kcore

    # path 1-2-3-4-5 hung off a triangle 5-6-7: at k=2 the path
    # cascades off one node per round, the triangle survives
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (5, 7), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node, r.core_degree) for r in kcore(df, k=2).collect()}
    assert got == {(5, 2), (6, 2), (7, 2)}
    # k=3: nothing survives (triangle nodes have degree 2 inside)
    assert kcore(df, k=3).count() == 0
    # duplicate/reversed listings collapse before peeling
    noisy = df.union(
        spark.createDataFrame([(2, 1), (7, 6), (6, 6)], "src long, dst long")
    )
    got2 = {(r.node, r.core_degree) for r in kcore(noisy, k=2).collect()}
    assert got2 == got


def test_clustering_coefficient_known_values(spark):
    from from_superset_to_clickhouse_spark.operators.graph import (
        clustering_coefficient,
    )

    # K4 on 1-4 (coeff 1.0 everywhere) plus a pendant node 5 on 1
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(k4 + [(1, 5)], "src long, dst long")
    rows = {r.node: r for r in clustering_coefficient(df).collect()}
    assert rows[5].degree == 1 and rows[5].coeff == 0.0
    assert rows[1].degree == 4 and rows[1].n_tri == 3
    # node 1: 3 of its C(4,2)=6 neighbor pairs are edges -> 0.5
    assert rows[1].coeff == 0.5
    for n in (2, 3, 4):
        assert rows[n].coeff == 1.0 and rows[n].n_tri == 3


def test_adamic_adar_reference(spark):
    import math

    from from_superset_to_clickhouse_spark.operators.graph import (
        adamic_adar,
    )

    # features: f1 shared by a,b,c (deg 3); f2 by a,b (deg 2);
    # f3 only by c (deg 1 -> contributes nothing)
    edges = [
        ("a", "f1"), ("b", "f1"), ("c", "f1"),
        ("a", "f2"), ("b", "f2"),
        ("c", "f3"),
    ]
    df = spark.createDataFrame(edges, "n string, f string")
    got = {
        (r.node_a, r.node_b): (r.common, r.aa)
        for r in adamic_adar(df, "n", "f").collect()
    }
    aa_ab = 1 / math.log(3) + 1 / math.log(2)
    assert got[("a", "b")] == (2, round(aa_ab, 6))
    assert got[("a", "c")] == (1, round(1 / math.log(3), 6))
    assert got[("b", "c")] == (1, round(1 / math.log(3), 6))
    assert len(got) == 3


def test_adamic_adar_hub_cap(spark):
    from from_superset_to_clickhouse_spark.operators.graph import (
        adamic_adar,
    )

    edges = [(f"n{i}", "hub") for i in range(10)] + [
        ("n0", "rare"), ("n1", "rare")
    ]
    df = spark.createDataFrame(edges, "n string, f string")
    # hub dropped at max_deg=5: only the rare-feature pair remains
    got = adamic_adar(df, "n", "f", max_deg=5).collect()
    assert len(got) == 1
    assert (got[0].node_a, got[0].node_b, got[0].common) == ("n0", "n1", 1)


def test_closeness_from_pivots_path_graph(spark):
    from from_superset_to_clickhouse_spark.operators.graph import (
        closeness_from_pivots,
    )

    # path 1-2-3-4-5, pivots {1, 5}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r.node: r for r in
           closeness_from_pivots(edges, [1, 5], max_hops=4).collect()}
    # node 3: d(1)=2, d(5)=2 -> closeness 2/4, harmonic 1
    assert got[3].n_reached == 2 and got[3].sum_hops == 4
    assert got[3].closeness == 0.5 and got[3].harmonic == 1.0
    # pivot 1: d(1)=0, d(5)=4 -> closeness 2/4, harmonic 1/4
    assert got[1].sum_hops == 4 and got[1].harmonic == 0.25
    # truncation: with max_hops=2, node 5 sees only pivot 5
    got2 = {r.node: r for r in
            closeness_from_pivots(edges, [1, 5], max_hops=2).collect()}
    assert got2[5].n_reached == 1 and got2[5].closeness is None


def test_scc_matches_tarjan_on_random_digraphs(spark):
    """Forward-coloring + backward-containment SCC equals Tarjan's on
    seeded random digraphs (labels = max id per component), including
    isolated nodes and pure-DAG portions (every node a singleton)."""
    import random

    from from_superset_to_clickhouse_spark.operators.graph import (
        strongly_connected_components,
    )

    def tarjan(n_nodes, adj):
        idx, low, on, st, comp = {}, {}, set(), [], {}
        counter = [0]
        for root in range(n_nodes):
            if root in idx:
                continue
            work = [(root, 0)]
            while work:
                v, pi = work[-1]
                if pi == 0:
                    idx[v] = low[v] = counter[0]
                    counter[0] += 1
                    st.append(v)
                    on.add(v)
                recurse = False
                for w in adj.get(v, [])[pi:]:
                    work[-1] = (v, pi + 1)
                    pi += 1
                    if w not in idx:
                        work.append((w, 0))
                        recurse = True
                        break
                    if w in on:
                        low[v] = min(low[v], idx[w])
                if recurse:
                    continue
                if low[v] == idx[v]:
                    mem = []
                    while True:
                        w = st.pop()
                        on.discard(w)
                        mem.append(w)
                        if w == v:
                            break
                    mx = max(mem)
                    for w in mem:
                        comp[w] = mx
                work.pop()
                if work:
                    pv, _ = work[-1]
                    low[pv] = min(low[pv], low[v])
        return comp

    for seed in (1, 7):
        rng = random.Random(seed)
        n = 24
        arcs = {(rng.randrange(n), rng.randrange(n)) for _ in range(40)}
        arcs = {(a, b) for a, b in arcs if a != b}
        adj = {}
        for a, b in arcs:
            adj.setdefault(a, []).append(b)
        ref = tarjan(n, adj)
        edges = spark.createDataFrame(sorted(arcs), "src int, dst int")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "node int")
        got = {
            r["node"]: r["scc"]
            for r in strongly_connected_components(
                edges, nodes=nodes, max_rounds=24
            ).collect()
        }
        assert got == ref, (seed, {k: (got[k], ref[k]) for k in got
                                   if got[k] != ref[k]})


def test_scc_raises_on_exhausted_propagation_instead_of_wrong_answer(spark):
    """A cycle longer than max_prop cannot color to convergence — the
    operator must raise (silently settling would split the cycle into
    fake singletons); with a sufficient cap the same graph returns the
    single full-cycle component."""
    import pytest

    from from_superset_to_clickhouse_spark.operators.graph import (
        strongly_connected_components,
    )

    n = 12
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src int, dst int"
    )
    with pytest.raises(ValueError, match="did not converge"):
        strongly_connected_components(edges, max_prop=5).collect()
    ok = {
        r["node"]: r["scc"]
        for r in strongly_connected_components(edges, max_prop=20).collect()
    }
    assert ok == {i: n - 1 for i in range(n)}


def test_hits_star_graph(spark):
    """Star 0 -> (1,2,3): node 0 is the pure hub (h = 1), targets are
    equal authorities (a = 1/sqrt(3)), and the roles do not mix."""
    import math

    from from_superset_to_clickhouse_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    r = {row["node"]: row for row in hits(edges, iters=4).collect()}
    assert abs(r[0]["hub"] - 1.0) < 1e-6
    assert r[0]["authority"] == 0.0
    for v in (1, 2, 3):
        assert abs(r[v]["authority"] - 1 / math.sqrt(3)) < 1e-6
        assert r[v]["hub"] == 0.0


def test_hits_deterministic_rerun(spark):
    """Grid-rounded trajectory: two runs are bit-identical."""
    from from_superset_to_clickhouse_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7) for i in range(7)] +
        [(i, (i + 2) % 7) for i in range(0, 7, 2)],
        "src long, dst long",
    )
    a = sorted(map(tuple, hits(edges, iters=6).collect()))
    b = sorted(map(tuple, hits(edges, iters=6).collect()))
    assert a == b


def test_hits_rejects_zero_iters(spark):
    """iters < 1 is an argument error, not a confusing join-on-None
    crash deep in the loop (ADVICE r10)."""
    import pytest

    from from_superset_to_clickhouse_spark.operators.graph import hits

    e = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError, match="iters"):
        hits(e, iters=0)


def test_degree_assortativity_star_is_negative(spark):
    """A star graph is maximally disassortative: with the symmetrized
    (Newman) treatment each edge contributes BOTH (n-1, 1) and
    (1, n-1), so the endpoint-degree sequence has variance and the
    correlation is exactly -1 (x=hub-degree always pairs with
    y=leaf-degree and vice versa)."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        degree_assortativity,
    )

    star = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(star, "src int, dst int")
    r = degree_assortativity(df).first()
    assert r["m_edges"] == 5
    assert r["assortativity"] == -1.0
    df2 = spark.createDataFrame(star + [(1, 2)], "src int, dst int")
    r2 = degree_assortativity(df2).first()
    assert r2["assortativity"] < 0


def test_degree_assortativity_matches_pearson(spark):
    import statistics

    from from_superset_to_clickhouse_spark.operators.graph import (
        degree_assortativity,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src int, dst int")
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    want = statistics.correlation(xs, ys)
    r = degree_assortativity(df).first()
    assert abs(r["assortativity"] - want) < 1e-6


def test_edge_jaccard_triangle_plus_tail(spark):
    from from_superset_to_clickhouse_spark.operators.graph import (
        edge_jaccard,
    )

    # triangle 1-2-3 plus tail 3-4: edge (1,2) has common neighbor {3},
    # union = N(1) u N(2) \ {1,2} = {3} -> jaccard 1.0;
    # edge (2,3): common {1}, union {1,4} -> 0.5
    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {(r["u"], r["v"]): r for r in edge_jaccard(df).collect()}
    assert out[(1, 2)]["jaccard"] == 1.0
    assert out[(2, 3)]["common"] == 1
    assert abs(out[(2, 3)]["jaccard"] - 0.5) < 1e-9
    assert (3, 4) not in out  # no common neighbors


def test_k_truss_keeps_clique_drops_bridge(spark):
    from from_superset_to_clickhouse_spark.operators.graph import k_truss

    # K4 on 1-4 (every edge in 2 triangles), a bridge 4-5, and a
    # triangle 5-6-7 (each edge in exactly 1 triangle)
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    rest = [(4, 5), (5, 6), (5, 7), (6, 7)]
    df = spark.createDataFrame(k4 + rest, "src int, dst int")
    out = {(r["a"], r["b"]): r["support"] for r in k_truss(df, k=4).collect()}
    # 4-truss (support >= 2): exactly the K4 survives at support 2
    assert set(out) == set(k4)
    assert all(s == 2 for s in out.values())
    # 3-truss (support >= 1) additionally keeps the 5-6-7 triangle
    # but still drops the triangle-free bridge
    out3 = {(r["a"], r["b"]) for r in k_truss(df, k=3).collect()}
    assert out3 == set(k4) | {(5, 6), (5, 7), (6, 7)}


def test_k_truss_cascade(spark):
    from from_superset_to_clickhouse_spark.operators.graph import k_truss

    # two K4s sharing the edge (1,2): removing nothing — every edge
    # has support >= 2 already; but prune an edge to force a cascade:
    # K4 minus one edge has two edges at support 1 -> whole side
    # unravels, the intact K4 survives
    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b_nodes = [1, 2, 5, 6]
    k4b = [
        (min(x, y), max(x, y))
        for idx, x in enumerate(k4b_nodes)
        for y in k4b_nodes[idx + 1:]
    ]
    k4b.remove((5, 6))  # cripple the second clique
    df = spark.createDataFrame(
        sorted(set(k4a + k4b)), "src int, dst int"
    )
    out = {(r["a"], r["b"]) for r in k_truss(df, k=4).collect()}
    assert out == set(k4a)


def test_hits_driver_path_matches_distributed(spark):
    from from_superset_to_clickhouse_spark.operators.graph import hits

    edges = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 2), (2, 4),
    ]
    df = spark.createDataFrame(edges, "src int, dst int")
    fast = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, iters=8).collect()
    }
    slow = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, iters=8, driver_max_nodes=0).collect()
    }
    assert fast == slow


def test_rich_club_elite_core(spark):
    from from_superset_to_clickhouse_spark.operators.graph import rich_club

    # K5 core (degrees 4+2 spokes...) plus a star periphery
    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    spokes = [(n, 100 + 3 * n + i) for n in range(1, 6) for i in range(2)]
    df = spark.createDataFrame(k5 + spokes, "src int, dst int")
    # club at k=3: exactly the K5 (degree 6 each); density 1
    r = rich_club(df, k=3).collect()[0]
    assert r["n_club"] == 5 and r["e_club"] == 10 and r["phi"] == 1.0
    # club at k=10: empty -> NULL phi
    r2 = rich_club(df, k=10).collect()[0]
    assert r2["n_club"] == 0 and r2["phi"] is None


def test_scc_string_node_ids(spark):
    """String node ids must work: every convergence probe counts rows
    and never sums or casts ids (a string id would ANSI-throw on a
    numeric cast, or NULL-out and falsely converge with ANSI off). Two
    2-cycles bridged by a one-way edge plus a singleton — labels are
    lexicographic maxima per component."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # SCC {a, b} -> "b"
            ("b", "c"),                       # bridge, one-way
            ("c", "d"), ("d", "c"),           # SCC {c, d} -> "d"
            ("d", "e"),                       # e: singleton sink
        ],
        "src string, dst string",
    )
    got = {
        r["node"]: r["scc"]
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {"a": "b", "b": "b", "c": "d", "d": "d", "e": "e"}


def test_k_truss_raises_on_exhausted_peel_instead_of_non_truss(spark):
    """A cascade that needs more peel rounds than max_iter must raise
    (returning the last sup would include sub-threshold edges with
    stale supports — a non-truss); the same graph converges with a
    sufficient cap."""
    import pytest

    from from_superset_to_clickhouse_spark.operators.graph import k_truss

    # K4 on {0,1,2,3} plus a peel chain: each round removes one layer.
    arcs = {(a, b) for a in range(4) for b in range(4) if a < b}
    arcs |= {(2, 4), (3, 4), (3, 5), (4, 5), (4, 6), (5, 6)}
    df = spark.createDataFrame(sorted(arcs), "src int, dst int")
    with pytest.raises(ValueError, match="did not converge"):
        k_truss(df, k=4, max_iter=1).collect()
    ok = {(r["a"], r["b"]) for r in k_truss(df, k=4, max_iter=10).collect()}
    assert ok == {(a, b) for a in range(4) for b in range(4) if a < b}


_DEGENERATE = {
    "connected_components": (
        lambda gr, e, f: gr.connected_components(e),
        {"empty": [], "loop": [(1, 1)], "edge": [(1, 1), (2, 1)]},
    ),
    "pagerank": (
        lambda gr, e, f: gr.pagerank(e),
        {"empty": [], "loop": [(1, 1.0)],
         "edge": [(1, 0.075), (2, 0.13875)]},
    ),
    "label_propagation": (
        lambda gr, e, f: gr.label_propagation(e, f["seeds"]),
        {"empty": [], "loop": [(1, "x")], "edge": [(1, "x"), (2, "x")]},
    ),
    "kcore": (
        lambda gr, e, f: gr.kcore(e, k=1),
        {"empty": [], "loop": [], "edge": [(1, 1), (2, 1)]},
    ),
    "shortest_hops": (
        lambda gr, e, f: gr.shortest_hops(e, f["sources"]),
        {"empty": [(1, 0)], "loop": [(1, 0)], "edge": [(1, 0), (2, 1)],
         "no_sources": []},
    ),
    "closeness_from_pivots": (
        lambda gr, e, f: gr.closeness_from_pivots(e, f["sources"]),
        {"empty": [(1, 1, 0, None, 0.0)], "loop": [(1, 1, 0, None, 0.0)],
         "edge": [(1, 1, 0, None, 0.0), (2, 1, 1, 1.0, 1.0)],
         "no_sources": []},
    ),
    "strongly_connected_components": (
        lambda gr, e, f: gr.strongly_connected_components(e),
        {"empty": [], "loop": [(1, 1)], "edge": [(1, 1), (2, 2)]},
    ),
    "hits": (
        lambda gr, e, f: gr.hits(e),
        {"empty": [], "loop": [(1, 1.0, 1.0)],
         "edge": [(1, 1.0, 0.0), (2, 0.0, 1.0)]},
    ),
    "k_truss": (
        lambda gr, e, f: gr.k_truss(e, k=3),
        {"empty": [], "loop": [], "edge": []},
    ),
    "betweenness_from_pivots": (
        lambda gr, e, f: gr.betweenness_from_pivots(e, [1]),
        {"empty": [], "loop": [], "edge": [(2, 0.0)]},
    ),
}
_NODES_ONLY = {
    "connected_components": lambda gr, e, n: gr.connected_components(
        e, nodes=n
    ),
    "strongly_connected_components": (
        lambda gr, e, n: gr.strongly_connected_components(e, nodes=n)
    ),
}


@pytest.fixture(scope="module")
def degenerate_frames(spark):
    schema = "src long, dst long"
    return {
        "empty": spark.createDataFrame([], schema),
        "loop": spark.createDataFrame([(1, 1)], schema),
        "edge": spark.createDataFrame([(1, 2)], schema),
        "seeds": spark.createDataFrame([(1, "x")], "node long, label string"),
        "nodes": spark.createDataFrame([(3,), (4,)], "node long"),
    }


@pytest.mark.parametrize(
    "op,case",
    [(op, case) for op, (_, cases) in _DEGENERATE.items() for case in cases]
    + [(op, "nodes_only") for op in _NODES_ONLY],
)
def test_iterative_graph_operators_on_degenerate_inputs(
    degenerate_frames, op, case
):
    """Every iterative graph operator terminates with the exact answer
    on an empty edge list, one self-loop and one edge; cc and scc also
    on a nodes-only universe, the BFS pair also with no sources."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    f = degenerate_frames
    if case == "nodes_only":
        got = _NODES_ONLY[op](gr, f["empty"], f["nodes"])
        assert sorted(map(tuple, got.collect())) == [(3, 3), (4, 4)]
        return
    run, cases = _DEGENERATE[op]
    edges = f["edge" if case == "no_sources" else case]
    f = dict(f, sources=[] if case == "no_sources" else [1])
    out = run(gr, edges, f)
    assert sorted(map(tuple, out.collect())) == cases[case]
    if op == "pagerank" and case == "empty":
        assert out.schema == run(gr, f["edge"], f).schema


@pytest.mark.parametrize(
    "op",
    [
        lambda gr, e: gr.kcore(e, k=2, max_iter=2),
        lambda gr, e: gr.connected_components(e, max_iter=1),
    ],
    ids=["kcore", "connected_components"],
)
def test_exhausted_cap_raises_instead_of_wrong_answer(spark, op):
    """kcore and connected_components used to return a partial fixpoint
    (8 rows instead of the empty 2-core; 10 components instead of 1)
    when the path 1-2-…-12 outlasted max_iter."""
    from from_superset_to_clickhouse_spark.operators import graph as gr

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        op(gr, path).collect()


def test_betweenness_eccentricity_equal_to_max_hops_passes(spark):
    """The BFS cap raises only when a node lies BEYOND max_hops: the
    chain 0→…→6 from pivot 0 has eccentricity 6 = max_hops."""
    from from_superset_to_clickhouse_spark.operators.graph import (
        betweenness_from_pivots,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src int, dst int"
    )
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_from_pivots(chain, [0], max_hops=6).collect()
    }
    assert got == {v: (6 - v) / 2 for v in range(1, 7)}
