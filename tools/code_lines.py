"""Code lines per product module: physical lines that hold code, leaving
out blank lines, comment-only lines and docstrings.

Usage:
    python tools/code_lines.py

Walks the ``distributed_database_for_sql_spark`` package next to this
script's parent directory and prints one ``<lines>  <module path>`` row
per Python file, then the package total.  A line counts when
``tokenize`` puts at least one code token on it; lines inside a module,
class or function docstring (found with ``ast``) never count.
"""

from __future__ import annotations

import ast
import os
import tokenize

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = "distributed_database_for_sql_spark"
_NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING,
             tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    """Number of lines of ``path`` that carry code."""
    with open(path, "rb") as f:
        source = f.read()
    skip = _docstring_lines(ast.parse(source))
    with open(path, "rb") as f:
        tokens = list(tokenize.tokenize(f.readline))
    lines: set[int] = set()
    for tok in tokens:
        if tok.type in _NON_CODE:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - skip)


def main() -> None:
    rows = []
    for dirpath, dirnames, filenames in os.walk(os.path.join(_ROOT, _PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rows.append((os.path.relpath(path, _ROOT), code_lines(path)))
    for rel, n in rows:
        print(f"{n:7d}  {rel}")
    print(f"{sum(n for _, n in rows):7d}  total")


if __name__ == "__main__":
    main()
