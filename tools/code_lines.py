"""Count code lines of a Python tree: every line that holds a token other
than a comment, leaving out blank, comment-only and docstring lines.

A line counts when a code token starts on it or a multi-line code token
(a string that is not a docstring) spans it. Docstrings are the string
expressions that open a module, class or function body, found with
``ast``.

    python tools/code_lines.py [ROOT]

ROOT defaults to the package directory next to ``tools/``. Prints one
``<lines>  <path>`` row per file, sorted by path, then the total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

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
    lines = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
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
    """Code lines of one module's ``source``."""
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def count_tree(root: str) -> dict[str, int]:
    """``{relative path: code lines}`` for every ``.py`` file under ``root``."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, root)] = code_lines(fh.read())
    return out


def main(argv: list[str]) -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[0] if argv else os.path.join(
        here, os.pardir, "debezium_connector_yugabytedb_1_spark"
    )
    counts = count_tree(root)
    for path, n in sorted(counts.items()):
        print(f"{n:6d}  {path}")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
