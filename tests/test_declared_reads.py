"""The declared-read contract of ``tablestore.py``, checked on the
source text (no Spark).

Files under a table's ``data/`` carry the declared types, and every
TableStore read passes the schema the meta declares (``_declared``),
so planning a scan launches no footer-inference job. Every
``spark.read`` chain in the module must therefore call ``.schema(``
before it reads; a chain that does not is allow-listed below with its
reason. The rule holds for a reader kept in a variable too: its
``spark.read`` chain ends at the assignment, so ``.schema(`` must be
called there.
"""

import ast
import os

SRC = os.path.join(
    os.path.dirname(__file__), "..", "from_superset_to_clickhouse_spark",
    "tablestore.py",
)

# unparsed ``spark.read`` chain -> reason
ALLOWED: dict[str, str] = {}


def undeclared_reads(src):
    """Each ``….spark.read…`` chain that never calls ``.schema(``, as
    its unparsed outermost expression."""
    tree = ast.parse(src)
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    found = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Attribute)
            and node.attr == "read"
            and (
                isinstance(node.value, ast.Attribute) and node.value.attr == "spark"
                or isinstance(node.value, ast.Name) and node.value.id == "spark"
            )
        ):
            continue
        names, top = [], node
        while True:
            up = parent.get(top)
            if isinstance(up, ast.Attribute) and up.value is top:
                names.append(up.attr)
            elif not (isinstance(up, ast.Call) and up.func is top):
                break
            top = up
        if "schema" not in names:
            found.append(ast.unparse(top))
    return found


def test_every_tablestore_read_declares_its_schema():
    with open(SRC) as fh:
        src = fh.read()
    bad = [e for e in undeclared_reads(src) if e not in ALLOWED]
    assert not bad, bad


def test_lint_sees_the_undeclared_forms():
    src = (
        "a = self.spark.read.parquet(d)\n"
        "b = self.spark.read.option('basePath', base).parquet(*dirs)\n"
        "reader = spark.read.option('mergeSchema', 'true')\n"
        "c = self.spark.read.schema(s).option('basePath', base).parquet(d)\n"
        "e = self.read(name)\n"
        "f = df.write.parquet(p)\n"
    )
    assert sorted(undeclared_reads(src)) == [
        "self.spark.read.option('basePath', base).parquet(*dirs)",
        "self.spark.read.parquet(d)",
        "spark.read.option('mergeSchema', 'true')",
    ]
