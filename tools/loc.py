"""Code lines per module and in total.

A code line is a source line that carries at least one Python token other
than a comment: blank lines, comment-only lines and the lines of docstrings
(the leading string statement of a module, class or function) do not
count.  A multi-line expression or string counts every line it spans.

Usage:
    python tools/loc.py                      # every module under myscaledb_spark/
    python tools/loc.py PATH ...             # other files or directories
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(path: str) -> int:
    src = open(path, encoding="utf-8").read()
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            lines.update(ln for ln in range(tok.start[0], tok.end[0] + 1) if ln not in doc)
    return len(lines)


def _py_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def main(paths: list[str]) -> int:
    total = 0
    for path in paths or [os.path.join(ROOT, "myscaledb_spark")]:
        for f in _py_files(path):
            n = code_lines(f)
            total += n
            print(f"{n:7d}  {os.path.relpath(f, ROOT)}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
