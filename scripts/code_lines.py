"""Count code lines: non-blank, non-comment, non-docstring.

    python3 scripts/code_lines.py PATH... [--rev REV]

Prints one ``count path`` line per file and, for several files, a total.
A line counts when it holds at least one token that is not a comment and
not part of a docstring (the first string statement of a module, class or
function).  ``--rev`` reads each file as it is at a git revision (``git
show REV:PATH``); a file absent there counts 0.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import subprocess
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines = set()
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
    """Number of lines of ``source`` that carry code."""
    docs = _docstring_lines(ast.parse(source))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def _source(path: str, rev: str | None) -> str:
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    out = subprocess.run(
        ["git", "show", f"{rev}:./{os.path.relpath(path)}"],
        capture_output=True, text=True,
    )
    return out.stdout if out.returncode == 0 else ""


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--rev", help="count the files as of this git revision")
    args = ap.parse_args(argv)
    total = 0
    for p in args.paths:
        n = code_lines(_source(p, args.rev))
        total += n
        print(f"{n} {p}")
    if len(args.paths) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
