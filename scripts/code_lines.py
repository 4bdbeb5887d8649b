"""Count a package's code lines: non-blank lines that hold something
other than a comment or a docstring.

A line counts when it carries at least one token that is not a
comment, a newline or indentation, and that token is not part of a
docstring (the string-literal first statement of a module, class or
function body, found with ``ast``).

Usage: python scripts/code_lines.py [path ...]   (default: neuroner_spark)
Prints the total over every ``*.py`` file under the given paths.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
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
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(
            n for n in range(tok.start[0], tok.end[0] + 1) if n not in doc
        )
    return len(lines)


def _py_files(path: str):
    if path.endswith(".py"):
        yield path
        return
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".py"):
                yield os.path.join(root, name)


def main() -> None:
    paths = sys.argv[1:] or ["neuroner_spark"]
    total = 0
    for path in paths:
        for f in _py_files(path):
            with open(f, encoding="utf-8") as fh:
                total += code_lines(fh.read())
    print(total)


if __name__ == "__main__":
    main()
