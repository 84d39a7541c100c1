"""Count code lines of the engine: ``yuki_spark/`` plus ``__spark_entry__.py``.

Usage: python tools/loc.py [REV]

A code line is a physical line that holds at least one token that is not
a comment, a docstring or whitespace; a multi-line string that is not a
docstring counts every line it spans. Docstrings are the leading string
statement of a module, class or function body. Without REV the worktree
is counted; with REV (any git revision) the files as committed there.
Prints one line per file, then the ``yuki_spark/`` and engine totals.
"""
from __future__ import annotations

import ast
import io
import os
import subprocess
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SKIP = {
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
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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
    """Number of code lines in one Python source text."""
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _files(rev: str | None) -> dict[str, str]:
    """{relative path: source} for the engine files at ``rev``."""
    if rev is None:
        out = {}
        for base, _, names in os.walk(os.path.join(ROOT, "yuki_spark")):
            for n in names:
                if n.endswith(".py"):
                    p = os.path.join(base, n)
                    out[os.path.relpath(p, ROOT)] = open(p, encoding="utf-8").read()
        entry = os.path.join(ROOT, "__spark_entry__.py")
        out["__spark_entry__.py"] = open(entry, encoding="utf-8").read()
        return out

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", ROOT, *args], check=True, capture_output=True, text=True
        ).stdout

    paths = git("ls-tree", "-r", "--name-only", rev, "yuki_spark", "__spark_entry__.py")
    return {
        p: git("show", f"{rev}:{p}")
        for p in paths.split()
        if p.endswith(".py")
    }


def main() -> None:
    rev = sys.argv[1] if len(sys.argv) > 1 else None
    counts = {p: code_lines(src) for p, src in sorted(_files(rev).items())}
    pkg = sum(n for p, n in counts.items() if p.startswith("yuki_spark/"))
    for p, n in counts.items():
        print(f"{n:7d}  {p}")
    print(f"{pkg:7d}  yuki_spark/ total")
    print(f"{pkg + counts.get('__spark_entry__.py', 0):7d}  engine total")


if __name__ == "__main__":
    main()
