#!/usr/bin/env python
"""Count code lines per Python file: lines that are not blank, not a
comment, and not part of a docstring. Comments are found with
`tokenize`, docstrings (the leading string statement of a module,
class or function body) with `ast`.

Usage: python tools/loc.py [path ...]

Each path is a .py file or a directory searched recursively. Prints
one `<lines>  <file>` row per file and a total row; with no argument
it counts the `file_db_spark` package.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
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


def code_lines(source: str) -> int:
    """Number of lines of `source` that carry code."""
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def _py_files(paths: list[str]) -> list[str]:
    out: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            for d, subdirs, files in os.walk(p):
                subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
                out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    files = _py_files(argv or [os.path.join(REPO, "file_db_spark")])
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d}  {os.path.relpath(f)}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
