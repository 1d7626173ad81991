"""Count the code lines of the package, per module and in total.

A code line is a physical line that holds at least one Python token
other than a comment, and that is not part of a docstring (the string
that opens a module, class or function body). Blank lines, comment-only
lines and docstring lines are not counted; every line of a multi-line
expression or of a non-docstring string literal is.

    python scripts/code_lines.py                 # every module + total
    python scripts/code_lines.py query/bm25.py   # just these modules

Paths are relative to the package directory. The last line printed is
the total over the modules listed.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "review_recommender_spark"
NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by the docstrings in ``tree``."""
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


def code_lines(source: str) -> int:
    skip = docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - skip)


def main(argv: list[str]) -> int:
    paths = ([PACKAGE / a for a in argv] if argv
             else sorted(PACKAGE.rglob("*.py")))
    total = 0
    for p in paths:
        n = code_lines(p.read_text(encoding="utf-8"))
        total += n
        print(f"{n:6d}  {p.relative_to(PACKAGE)}")
    print(f"{total:6d}  total ({len(paths)} modules)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
