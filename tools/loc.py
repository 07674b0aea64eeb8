"""Line counts per Python module: all lines and code-only lines.

A code-only line is one that is not blank, not comment-only and not
part of a docstring (the leading string literal of a module, class or
function body). Prints one row per module and a total row for the
paths given, which may be files or directories.

Usage: python tools/loc.py [path ...]     (default: realestate_engine/)
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize


def count(source: str) -> tuple[int, int]:
    """(all lines, code-only lines) of one module's source text."""
    lines = source.splitlines()
    skip = {i for i, line in enumerate(lines, 1) if not line.strip()}
    code_tokens: set[int] = set()
    comments: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            comments.add(tok.start[0])
        elif tok.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER):
            code_tokens.update(range(tok.start[0], tok.end[0] + 1))
    skip |= comments - code_tokens
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                skip.update(range(first.lineno, first.end_lineno + 1))
    return len(lines), len(lines) - len(skip)


def modules(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                out += [os.path.join(root, f) for f in files if f.endswith(".py")]
        else:
            out.append(p)
    return sorted(out)


def main(argv: list[str]) -> None:
    total_all = total_code = 0
    for path in modules(argv or ["realestate_engine/"]):
        with open(path, encoding="utf-8") as f:
            n_all, n_code = count(f.read())
        total_all += n_all
        total_code += n_code
        print(f"{n_all:8d} {n_code:8d}  {path}")
    print(f"{total_all:8d} {total_code:8d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
