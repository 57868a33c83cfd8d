"""Count code lines: no blank lines, comments or docstrings.

Usage:
    python tools/code_lines.py path/to/file.py [path/to/dir] [file.py:func]

A target is a ``.py`` file, a directory (every ``.py`` file below it), or
``file.py:name`` for one top-level function or class. Prints one line per
target and, for more than one target, the total.

A line counts when a token other than a comment, a newline or an
indentation token starts or continues on it. A docstring (the first
statement of a module, class or function, when it is a string literal)
does not count.
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


def code_lines(source: str, first: int = 1, last: int | None = None) -> int:
    """Code lines of ``source`` between lines ``first`` and ``last``
    (1-based, inclusive; ``last=None`` runs to the end)."""
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return sum(
        1
        for n in lines - doc
        if n >= first and (last is None or n <= last)
    )


def count_target(target: str) -> int:
    """Code lines of one ``file``, directory or ``file:name`` target."""
    path, _, name = target.partition(":")
    if os.path.isdir(path):
        return sum(
            count_target(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".py")
        )
    with open(path, encoding="utf-8") as fh:
        source = fh.read()
    if not name:
        return code_lines(source)
    for node in ast.parse(source).body:
        if getattr(node, "name", None) == name:
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            return code_lines(source, first, node.end_lineno)
    raise SystemExit(f"{target}: no top-level {name!r}")


def main(argv: list[str]) -> None:
    if not argv:
        sys.exit(__doc__)
    total = 0
    for target in argv:
        n = count_target(target)
        total += n
        print(f"{n:7d}  {target}")
    if len(argv) > 1:
        print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
