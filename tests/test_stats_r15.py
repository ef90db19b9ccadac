"""Round-15 operator reference tests: each new operator is pinned
against a hand computation or an independent pure-Python reference
implementation on small deterministic inputs."""

import datetime as dt
import math
import random

import pytest

import from_superset_to_clickhouse_spark.operators.stats as st


def test_stouffer_z_hand(spark):
    # Z = (1*2 + 2*1) / sqrt(1 + 4) = 4/sqrt(5)
    df = spark.createDataFrame([(2.0, 1.0), (1.0, 2.0)], "z double, w double")
    r = st.stouffer_z(df, "z", "w").collect()[0]
    assert r["k"] == 2
    assert abs(r["z_comb"] - 4.0 / math.sqrt(5.0)) < 1e-5


def test_cvm_uniform_reference(spark):
    rng = random.Random(11)
    xs = [rng.uniform(0, 10) for _ in range(57)]
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    r = st.cvm_uniform(df, "v", 0.0, 10.0).collect()[0]
    u = sorted(x / 10.0 for x in xs)
    n = len(u)
    w2 = 1.0 / (12 * n) + sum(
        ((2 * i + 1) / (2 * n) - u[i]) ** 2 for i in range(n)
    )
    ubar = sum(u) / n
    u2 = w2 - n * (ubar - 0.5) ** 2
    assert abs(r["w2"] - w2) < 1e-4 and abs(r["u2"] - u2) < 1e-4


def test_lilliefors_reference(spark):
    rng = random.Random(3)
    xs = [rng.gauss(50, 5) for _ in range(80)]
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    r = st.lilliefors(df, "v").collect()[0]
    # reference D with exact Phi
    xq = [math.floor(x * 2**20) / 2**20 for x in xs]
    m = sum(xq) / len(xq)
    sd = math.sqrt(sum((x - m) ** 2 for x in xq) / (len(xq) - 1))
    s = sorted(xq)
    n = len(s)
    phi = lambda z: 0.5 * (1 + math.erf(z / math.sqrt(2)))  # noqa: E731
    d = max(
        max((i + 1) / n - phi((s[i] - m) / sd), phi((s[i] - m) / sd) - i / n)
        for i in range(n)
    )
    assert abs(r["d_stat"] - d) < 2e-4  # A&S poly ~1e-7, grid ~1e-6
    assert r["reject_5pct"] == 0  # genuinely normal draw


def test_turning_point_hand(spark):
    # series 1,3,2,4,3: turning points at 3,2,4 -> T = 3, n = 5
    rows = [("g", i, v) for i, v in enumerate([1.0, 3.0, 2.0, 4.0, 3.0])]
    r = st.turning_point_test(
        spark.createDataFrame(rows, "g string, o int, v double"),
        "g", "o", "v",
    ).collect()[0]
    assert r["n_turning"] == 3 and r["n"] == 5
    assert abs(r["expected"] - 2.0) < 1e-9


def test_bartels_rank_reference(spark):
    rng = random.Random(9)
    vs = [rng.uniform(0, 1) for _ in range(40)]
    rows = [("g", i, v) for i, v in enumerate(vs)]
    r = st.bartels_rank_test(
        spark.createDataFrame(rows, "g string, o int, v double"),
        "g", "o", "v",
    ).collect()[0]
    # reference RVN (no ties in uniform draw)
    rk = {v: i + 1 for i, v in enumerate(sorted(vs))}
    rs = [rk[v] for v in vs]
    rbar = sum(rs) / len(rs)
    num = sum((rs[i] - rs[i + 1]) ** 2 for i in range(len(rs) - 1))
    den = sum((x - rbar) ** 2 for x in rs)
    assert abs(r["rvn"] - num / den) < 1e-6


def test_quade_reference_conover(spark):
    # Conover (1999) structure: clear treatment effect, varying block
    # scales; verify against a direct pure-python Quade computation.
    rng = random.Random(5)
    rows = []
    data = {}
    for b in range(7):
        scale = rng.uniform(1, 20)
        vals = [scale * (j + 1) + rng.uniform(-0.3, 0.3) for j in range(3)]
        data[b] = vals
        for j, v in enumerate(vals):
            rows.append((f"b{b}", f"t{j}", v))
    out = st.quade_test(
        spark.createDataFrame(rows, "b string, t string, v double"),
        "b", "t", "v",
    ).collect()[0]

    def ranks(xs):
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        rr = [0.0] * len(xs)
        for rank, i in enumerate(order):
            rr[i] = rank + 1.0
        return rr

    k, n = 3, 7
    q = [math.floor(v * 2**20) for v in sum(data.values(), [])]
    gq = {b: [math.floor(v * 2**20) for v in data[b]] for b in data}
    rij = {b: ranks(gq[b]) for b in data}
    rngs = [max(gq[b]) - min(gq[b]) for b in sorted(data)]
    qi = ranks(rngs)
    s = {
        (b, j): qi[bi] * (rij[b][j] - (k + 1) / 2)
        for bi, b in enumerate(sorted(data))
        for j in range(k)
    }
    sj = [sum(s[(b, j)] for b in data) for j in range(k)]
    a = sum(v * v for v in s.values())
    bb = sum(v * v for v in sj) / n
    f_ref = (n - 1) * bb / (a - bb)
    assert abs(out["f_stat"] - f_ref) < 1e-4
    assert out["df1"] == 2 and out["df2"] == 12


def test_jonckheere_reference(spark):
    rng = random.Random(2)
    rows = []
    data = {}
    for gi, g in enumerate(["a", "b", "c"]):
        data[g] = [rng.gauss(gi * 0.8, 1.0) for _ in range(15)]
        rows += [(g, v) for v in data[g]]
    out = st.jonckheere_terpstra(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    # reference J: pairwise U counting wins + half ties
    j_ref = 0.0
    gs = sorted(data)
    for i in range(len(gs)):
        for jj in range(i + 1, len(gs)):
            for x in data[gs[i]]:
                for y in data[gs[jj]]:
                    j_ref += 1.0 if y > x else (0.5 if y == x else 0.0)
    assert abs(out["j_stat"] - j_ref) < 1e-9
    n = 45
    mu = (n * n - 3 * 15 * 15) / 4.0
    assert abs(out["mean_null"] - mu) < 1e-9
    assert out["z_stat"] > 1.96  # planted ordered effect


def test_moses_exact_enumeration(spark):
    # tiny case: exact p by enumerating all control-position choices
    ctl = [5.0, 6.0, 7.0, 8.0, 9.0]     # m = 5, h = 1 -> c = 3
    exp = [1.0, 2.0, 10.0, 11.0]        # extremes both sides
    rows = [("c", v) for v in ctl] + [("e", v) for v in exp]
    out = st.moses_test(
        spark.createDataFrame(rows, "g string, v double"),
        "g", "c", "e", "v", h=1,
    ).collect()[0]
    # trimmed controls {6,7,8} are adjacent -> span 3, g = 0
    assert out["span"] == 3 and out["excess"] == 0
    # exact: P(0 inside) = C(0+3-2,0)*(4-0+1)/C(7,4) = 5/35
    assert abs(out["p_value"] - 5.0 / 35.0) < 1e-5
    assert out["reject_5pct"] == 0


def test_cucconi_reference(spark):
    rng = random.Random(4)
    a = [rng.gauss(0, 1) for _ in range(25)]
    b = [rng.gauss(0, 1) for _ in range(25)]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    out = st.cucconi_test(
        spark.createDataFrame(rows, "g string, v double"),
        "g", "a", "b", "v",
    ).collect()[0]
    # reference U/V from exact ranks (continuous draw, no ties)
    alln = sorted(a + b)
    rk = {v: i + 1 for i, v in enumerate(alln)}
    n1, n2 = len(a), len(b)
    nn = n1 + n2
    sr2 = sum(rk[v] ** 2 for v in a)
    sc2 = sum((nn + 1 - rk[v]) ** 2 for v in a)
    den = math.sqrt(n1 * n2 * (nn + 1) * (2 * nn + 1) * (8 * nn + 11) / 5.0)
    u = (6 * sr2 - n1 * (nn + 1) * (2 * nn + 1)) / den
    v = (6 * sc2 - n1 * (nn + 1) * (2 * nn + 1)) / den
    assert abs(out["u_stat"] - u) < 1e-5 and abs(out["v_stat"] - v) < 1e-5
    assert out["reject_5pct"] == 0  # same distribution


def test_smr_byar_textbook(spark):
    # O=15, E=10: SMR 1.5; Byar CI ~ (0.84, 2.47); significant at O=20/E=10
    df = spark.createDataFrame(
        [("a", 15, 10.0), ("b", 20, 10.0)], "g string, o int, e double"
    )
    out = {r["g"]: r for r in st.smr_byar(df, "g", "o", "e").collect()}
    assert abs(out["a"]["smr"] - 1.5) < 1e-9
    assert out["a"]["ci_lo"] < 1.0 < out["a"]["ci_hi"]
    assert out["a"]["sig_5pct"] == 0
    assert out["b"]["ci_lo"] > 1.0 and out["b"]["sig_5pct"] == 1


def test_suits_flat_tax_is_zero(spark):
    # proportional tax -> concentration curve = Lorenz curve -> S = 0
    rng = random.Random(6)
    rows = [(x := rng.uniform(10, 100), 0.2 * x) for _ in range(200)]
    out = st.suits_index(
        spark.createDataFrame(rows, "inc double, tax double"), "inc", "tax"
    ).collect()[0]
    assert abs(out["suits"]) < 2e-3
    # progressive tax (quadratic) -> S > 0
    rows2 = [(x := rng.uniform(10, 100), x * x / 100.0) for _ in range(200)]
    out2 = st.suits_index(
        spark.createDataFrame(rows2, "inc double, tax double"), "inc", "tax"
    ).collect()[0]
    assert out2["suits"] > 0.1


def test_aalen_johansen_reference(spark):
    # hand case: t=1: cause1 death of 1/4; t=2: cause2 of 1/3 survivors
    rows = [(1, 1), (2, 2), (3, 0), (4, 0)]
    df = spark.createDataFrame(rows, "d int, c int")
    out = {(r["t"], r["cause"]): r for r in
           st.aalen_johansen(df, "d", "c").collect()}
    # CIF1(1) = S(0)*1/4 = 0.25
    assert abs(out[(1, 1)]["cif"] - 0.25) < 1e-6
    # S(1) = 3/4; CIF2(2) = 0.75 * 1/3 = 0.25
    assert abs(out[(2, 2)]["cif"] - 0.25) < 1e-6
    assert out[(1, 1)]["n_risk"] == 4 and out[(2, 2)]["n_risk"] == 3
    # CIF1 + CIF2 <= 1 always (competing risks partition)
    assert all(r["cif"] <= 1.0 for r in out.values())
