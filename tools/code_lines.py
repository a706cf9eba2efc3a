"""Count the code lines of the ``sophox_spark`` package.

A code line is a source line that is neither blank, nor a comment-only
line, nor part of a docstring (the first string statement of a module,
class or function). Lines inside any other string literal count, even
when blank or starting with ``#``: they are program text.

Usage::

    python tools/code_lines.py [root]   # default: the sophox_spark/ beside tools/

Prints one ``<lines>  <path>`` row per file, then the total.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(source: str) -> int:
    """The number of code lines in one Python source text."""
    tree = ast.parse(source)
    docstring: set[int] = set()
    in_string: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                docstring.update(range(first.lineno, first.end_lineno + 1))
        elif isinstance(node, (ast.Constant, ast.JoinedStr)) and node.end_lineno > node.lineno:
            in_string.update(range(node.lineno + 1, node.end_lineno + 1))
    count = 0
    for i, text in enumerate(source.splitlines(), 1):
        if i in docstring:
            continue
        stripped = text.strip()
        if i in in_string or (stripped and not stripped.startswith("#")):
            count += 1
    return count


def main(argv: list[str]) -> int:
    root = Path(argv[1]) if len(argv) > 1 else Path(__file__).resolve().parents[1] / "sophox_spark"
    total = 0
    for path in sorted(root.rglob("*.py")):
        n = code_lines(path.read_text(encoding="utf-8"))
        total += n
        print(f"{n:7d}  {path.relative_to(root.parent)}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
