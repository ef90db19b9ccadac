"""The exact-arithmetic contract, checked on the source text (no Spark).

``operators/_exact.py`` spells the 2^-20 grid once: ``GRID``,
``grid(x)`` = floor(x·GRID)/GRID and ``grid_sum(x)`` =
Σ floor(x·GRID)/GRID. The statistics modules use those helpers, so a
module must neither define nor alias its own grid constant, nor floor
by the grid inline and divide the result by the grid again, in a
lambda or not. A floor by the grid that stays an integer (for integer
or decimal arithmetic downstream) is fine; the few deliberate inline
forms are allow-listed below with their reason.
"""

import ast
import os
import re

import pytest

OPS = os.path.join(
    os.path.dirname(__file__), "..", "from_superset_to_clickhouse_spark",
    "operators",
)
MODULES = ("stats.py", "temporal.py", "mleval.py")

# (module, the unparsed ``… / GRID`` expression) -> reason
ALLOWED = {
    (
        "stats.py",
        "F.floor(F.sum(F.when(cond, F.floor(F.col('_v') * GRID))) / "
        "F.sum(F.when(cond, F.lit(1)))) / GRID",
    ): "diff_in_diff's cell mean: the conditional grid-integer sum "
    "divides by the cell count before the one floor",
    (
        "temporal.py",
        "F.sum(F.when(F.col('_p') > 0, F.floor(-F.col('_p') * "
        "F.log('_p') * GRID)).otherwise(F.lit(0.0))) / GRID",
    ): "spectral_entropy: the conditional grid-integer sum is a DOUBLE "
    "sum (its 0.0 else-branch); grid_sum would change the sum type",
}


def _source(name):
    with open(os.path.join(OPS, name)) as fh:
        return fh.read()


def _is_grid(node, names=("GRID",)):
    return isinstance(node, ast.Name) and node.id in names


def grid_names(tree):
    """GRID and each name bound to it (``GRID as X``, ``X = GRID``)."""
    names = {"GRID"}
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom):
            names |= {
                a.asname for a in n.names if a.name == "GRID" and a.asname
            }
        elif (
            isinstance(n, ast.Assign)
            and isinstance(n.targets[0], ast.Name)
            and _is_grid(n.value, names)
        ):
            names.add(n.targets[0].id)
    return names


def inline_grid_floors(src):
    """Each ``F.floor(… * GRID)`` inside an expression that divides by
    GRID again, as the unparsed dividing expression."""
    tree = ast.parse(src)
    grid = grid_names(tree)
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    found = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "floor"
            and node.args
            and isinstance(node.args[0], ast.BinOp)
            and isinstance(node.args[0].op, ast.Mult)
            and _is_grid(node.args[0].right, grid)
        ):
            continue
        up = parent.get(node)
        while up is not None and not isinstance(up, ast.stmt):
            if (
                isinstance(up, ast.BinOp)
                and isinstance(up.op, ast.Div)
                and _is_grid(up.right, grid)
            ):
                found.append(ast.unparse(up))
                break
            up = parent.get(up)
    return found


@pytest.mark.parametrize("name", MODULES)
def test_no_private_grid_constant(name):
    src = _source(name)
    for pat in (r"\bGRID as\b", r"1 << 20\b", r"\b1048576\b"):
        assert not re.search(pat, src), (name, pat)
    aliases = [
        n.targets[0].id
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Assign)
        and len(n.targets) == 1
        and isinstance(n.targets[0], ast.Name)
        and _is_grid(n.value)
    ]
    assert not aliases, (name, aliases)


@pytest.mark.parametrize("name", MODULES)
def test_no_inline_grid_floor(name):
    bad = [
        e for e in inline_grid_floors(_source(name))
        if (name, e) not in ALLOWED
    ]
    assert not bad, (name, bad)


def test_lint_sees_the_inline_forms():
    src = (
        "a = F.floor(x * GRID) / GRID\n"
        "b = (F.sum(F.floor(d * d * GRID)) / GRID)\n"
        "q = lambda c: F.floor(c * GRID) / GRID\n"
        "k = F.floor(x * GRID)\n"
        "g = grid(x)\n"
    )
    assert len(inline_grid_floors(src)) == 3
