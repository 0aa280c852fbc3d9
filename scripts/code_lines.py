"""Count the package's code lines, per module and in total.

    python scripts/code_lines.py [package_dir]

A code line is a non-blank line that is neither a comment nor part of a
docstring. Lines are found with ``tokenize`` (every line a token other
than a comment or layout token touches, multi-line strings included);
docstrings are found with ``ast`` (the leading string statement of a
module, class or function) and their lines are dropped.
"""

from __future__ import annotations

import ast
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(
    ROOT, "apache_iceberg_pyiceberg_local_data_lakehouse_spark"
)
_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by module, class and function docstrings."""
    out: set[int] = set()
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
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(path: str) -> int:
    with open(path, "rb") as fh:
        tokens = list(tokenize.tokenize(fh.readline))
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    lines: set[int] = set()
    for tok in tokens:
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstring_lines(tree))


def main(argv: list[str]) -> int:
    pkg = os.path.abspath(argv[1]) if len(argv) > 1 else PACKAGE
    counts = {}
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                counts[os.path.relpath(path, pkg)] = code_lines(path)
    width = max(map(len, counts), default=0)
    for rel, n in sorted(counts.items()):
        print(f"{rel:<{width}}  {n:>6}")
    print(f"{'total':<{width}}  {sum(counts.values()):>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
