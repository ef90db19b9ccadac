"""Count code lines in Python files.

A code line is a physical line that carries at least one token other
than a comment, a newline, indentation, or part of a docstring. Blank
lines, comment-only lines and docstrings (module, class and function
docstrings: a string literal that is the first statement of its body)
do not count. A multi-line statement counts every line it spans.

Usage: python scripts/code_lines.py FILE [FILE ...]
Prints "<code lines>  <file>" per file, then a total when given more
than one file.
"""

from __future__ import annotations

import ast
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(source: str) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, "rb") as fh:
        source_bytes = fh.read()
    docs = _docstring_lines(source_bytes.decode("utf-8"))
    lines: set[int] = set()
    with open(path, "rb") as fh:
        for tok in tokenize.tokenize(fh.readline):
            if tok.type in _SKIP:
                continue
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python scripts/code_lines.py FILE [FILE ...]", file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        n = code_lines(path)
        total += n
        print(f"{n:7d}  {path}")
    if len(argv) > 1:
        print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
