"""Count code lines: lines that are not blank, not comments and not
docstrings. This is the library-size figure ROADMAP.md tracks.

A line counts when any token other than a comment or a newline/indent
marker touches it, so every line of a multi-line string literal
counts, except a docstring's (the first statement of a module, class
or function when it is a string literal).

Usage:
    python scripts/code_lines.py [PATH ...]   # default: scribedb_spark

Each PATH is a .py file or a directory searched recursively; prints
the total over all of them.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

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
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    """Code lines of one Python source text."""
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def count_paths(paths: list[str]) -> int:
    total = 0
    for p in map(Path, paths):
        for f in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            total += code_lines(f.read_text())
    return total


if __name__ == "__main__":
    print(count_paths(sys.argv[1:] or ["scribedb_spark"]))
