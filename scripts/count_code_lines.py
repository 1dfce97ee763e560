"""Count the code lines of Python files: lines that hold a token other
than a comment, blank-line or indentation token, with docstrings (the
first string statement of a module, class or function) left out. A
multi-line string that is not a docstring counts every line it spans.

Usage: ``python scripts/count_code_lines.py [path ...]`` — each path is a
``.py`` file or a directory searched for them (default
``tstables_spark``). Prints one ``<count>  <file>`` line per file and a
``<count>  total`` line.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
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


def count_code_lines(source: str) -> int:
    """The number of code lines in Python ``source``."""
    skip = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NOT_CODE:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - skip)


def _files(paths: list[str]) -> list[pathlib.Path]:
    out: list[pathlib.Path] = []
    for p in map(pathlib.Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    total = 0
    for f in _files(argv or ["tstables_spark"]):
        n = count_code_lines(f.read_text())
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
