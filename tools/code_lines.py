"""Count code lines in Python files: lines that hold a token other than a
comment, and that are not part of a module, class or function docstring.

    python tools/code_lines.py cog3pio_spark/operators/ann.py [more.py ...]

Prints ``<code lines>  <total lines>  <path>`` per file, and a total line
when given more than one file.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set:
    lines = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(code lines, total lines) of one Python source."""
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(source))), len(source.splitlines())


def main(paths: list) -> None:
    totals = [0, 0]
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n_code, n_total = count(f.read())
        totals[0] += n_code
        totals[1] += n_total
        print(f"{n_code:6d} {n_total:6d}  {path}")
    if len(paths) > 1:
        print(f"{totals[0]:6d} {totals[1]:6d}  total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
