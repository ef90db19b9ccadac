"""The read and write contracts of ``tablestore.py``, checked on the
source text (no Spark).

Files under a table's ``data/`` carry the declared types, and every
TableStore read passes the schema the meta declares (``_declared``),
so planning a scan launches no footer-inference job. Every
``spark.read`` chain in the module must therefore call ``.schema(``
before it reads; a chain that does not is allow-listed below with its
reason. The rule holds for a reader kept in a variable too: its
``spark.read`` chain ends at the assignment, so ``.schema(`` must be
called there.

The write side is one pipeline. Each public method reads the table
meta once and passes it down, so no private method calls
``self._meta(`` — except ``_next_ingest_seq``, whose read under the
sequence lease is the safety check of the single-writer contract. And
every replace commits through ``_commit``: no other method writes with
``.mode("overwrite")``, outside the allow-list below.
"""

import ast
import os

SRC = os.path.join(
    os.path.dirname(__file__), "..", "from_superset_to_clickhouse_spark",
    "tablestore.py",
)

# unparsed ``spark.read`` chain -> reason
ALLOWED: dict[str, str] = {}


# private methods allowed to read the meta -> reason
META_READERS = {
    "_next_ingest_seq": "re-reads under the lease: checks the sequence on disk",
}

# methods allowed to write with mode("overwrite") -> reason
OVERWRITERS = {
    "_commit": "the one replace protocol; writes only its staging dir",
    "_rebuild_projection": "writes the projection's .rebuilding dir, not data/",
}


def _methods(src):
    """(name, node) of every method of class ``TableStore``."""
    tree = ast.parse(src)
    cls = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "TableStore"
    )
    return [
        (f.name, f) for f in cls.body
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def _calls(fn, pred):
    return any(isinstance(n, ast.Call) and pred(n) for n in ast.walk(fn))


def _is_self_meta(call):
    f = call.func
    return (
        isinstance(f, ast.Attribute) and f.attr == "_meta"
        and isinstance(f.value, ast.Name) and f.value.id == "self"
    )


def _is_overwrite_mode(call):
    f = call.func
    return (
        isinstance(f, ast.Attribute) and f.attr == "mode"
        and any(
            isinstance(a, ast.Constant) and a.value == "overwrite"
            for a in call.args
        )
    )


def private_meta_readers(src):
    """Private methods that call ``self._meta(``."""
    return sorted(
        name for name, fn in _methods(src)
        if name.startswith("_") and _calls(fn, _is_self_meta)
    )


def overwrite_writers(src):
    """Methods that write with ``.mode("overwrite")``."""
    return sorted(
        name for name, fn in _methods(src) if _calls(fn, _is_overwrite_mode)
    )


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


def _source():
    with open(SRC) as fh:
        return fh.read()


def test_private_methods_take_the_callers_meta():
    bad = [m for m in private_meta_readers(_source()) if m not in META_READERS]
    assert not bad, bad


def test_every_replace_commits_through_commit():
    bad = [m for m in overwrite_writers(_source()) if m not in OVERWRITERS]
    assert not bad, bad


def test_write_lints_see_their_forms():
    src = (
        "class TableStore:\n"
        "    def read(self, name):\n"
        "        return self._meta(name)\n"
        "    def _helper(self, name):\n"
        "        m = self._meta(name)\n"
        "    def _ok(self, name, meta):\n"
        "        other._meta(name)\n"
        "    def overwrite(self, name, df):\n"
        "        df.write.mode('overwrite').parquet(name)\n"
        "    def append(self, name, df):\n"
        "        df.write.mode('append').parquet(name)\n"
    )
    assert private_meta_readers(src) == ["_helper"]
    assert overwrite_writers(src) == ["overwrite"]
