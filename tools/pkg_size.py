"""Code-line count of the package, per module and in total.

A code line is a physical line that holds at least one token of code.
Blank lines, comment-only lines and docstrings (the leading string of a
module, class or function body) do not count, so deleting comments or
reflowing a docstring leaves the number unchanged.

Usage::

    python3 tools/pkg_size.py [package_dir]   # default: the package

Prints ``<lines>  <module>`` per module, sorted by path, then the total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of lines of ``source`` that carry code."""
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(n for n in range(tok.start[0], tok.end[0] + 1) if n not in docs)
    return len(lines)


def package_sizes(root: str) -> dict[str, int]:
    sizes = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    sizes[os.path.relpath(path, root)] = code_lines(fh.read())
    return dict(sorted(sizes.items()))


def main(argv: list[str]) -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[0] if argv else os.path.join(
        here, os.pardir, "mpower_feature_analysis_spark")
    sizes = package_sizes(root)
    for path, n in sizes.items():
        print(f"{n:6d}  {path}")
    print(f"{sum(sizes.values()):6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
