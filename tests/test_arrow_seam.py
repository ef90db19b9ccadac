"""The Python/Arrow crossing has one seam, checked on the source text
(no Spark).

``operators/_arrow.py`` is the only module of the package that calls
Spark's Python-worker APIs (``mapInPandas``, ``applyInPandas``,
``pandas_udf``, ``mapInArrow``, ``applyInArrow``, ``arrow_udf``); it
states the contract once (schema → Arrow types, the vector matrix, NULL
scatter, quarantine, spread). No operator module imports pandas. The
one exception is allow-listed below with its reason.
"""

import ast
import os
import re

PKG = os.path.join(
    os.path.dirname(__file__), "..", "from_superset_to_clickhouse_spark"
)
SEAM = os.path.join("operators", "_arrow.py")
CROSSING = re.compile(r"^(mapIn|applyIn)(Pandas|Arrow)\w*$|^(pandas|arrow)_udf$")

# (module, API) -> reason
ALLOWED = {
    (
        os.path.join("streaming", "ingest.py"),
        "applyInPandasWithState",
    ): "the stateful-streaming API: moving to transformWithState would "
    "change the state model that the streaming restart tests pin",
}


def _modules():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PKG), path


def crossings(src):
    """(line, API) of every Python-worker API named in ``src``."""
    out = []
    for n in ast.walk(ast.parse(src)):
        name = (
            n.attr if isinstance(n, ast.Attribute)
            else n.id if isinstance(n, ast.Name)
            else None
        )
        if name and CROSSING.match(name):
            out.append((n.lineno, name))
    return sorted(out)


def pandas_imports(src):
    """Line of every ``import pandas`` / ``from pandas ...`` in ``src``."""
    out = []
    for n in ast.walk(ast.parse(src)):
        if isinstance(n, ast.Import):
            mods = [a.name for a in n.names]
        elif isinstance(n, ast.ImportFrom):
            mods = [n.module or ""]
        else:
            continue
        if any(m == "pandas" or m.startswith("pandas.") for m in mods):
            out.append(n.lineno)
    return sorted(out)


def test_every_python_crossing_goes_through_the_seam():
    bad = []
    for rel, path in _modules():
        if rel == SEAM:
            continue
        with open(path) as fh:
            src = fh.read()
        bad += [
            f"{rel}:{line} {api}"
            for line, api in crossings(src)
            if (rel, api) not in ALLOWED
        ]
    assert not bad, "crossings outside operators/_arrow.py:\n" + "\n".join(bad)


def test_no_operator_imports_pandas():
    bad = []
    for rel, path in _modules():
        if rel.startswith("operators" + os.sep):
            with open(path) as fh:
                bad += [f"{rel}:{n}" for n in pandas_imports(fh.read())]
    assert not bad, "pandas imports under operators/:\n" + "\n".join(bad)


def test_lint_sees_every_form():
    src = (
        "import pandas as pd\n"
        "from pandas import Series\n"
        "df.mapInPandas(f, s)\n"
        "df.groupBy('k').applyInPandas(f, s)\n"
        "g.cogroup(h).applyInArrow(f, s)\n"
        "df.mapInArrow(f, s)\n"
        "F.pandas_udf('double')\n"
        "F.arrow_udf(f, 'int')\n"
        "arrow_udf(f)\n"
        "df.groupBy('k').applyInPandasWithState(f, s, s, 'append', 'none')\n"
        "df.pandas_api()\n"
    )
    assert [api for _, api in crossings(src)] == [
        "mapInPandas", "applyInPandas", "applyInArrow", "mapInArrow",
        "pandas_udf", "arrow_udf", "arrow_udf", "applyInPandasWithState",
    ]
    assert pandas_imports(src) == [1, 2]
