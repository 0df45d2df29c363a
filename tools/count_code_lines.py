"""Count code lines of Python files: lines that are not blank, not comments
and not docstrings (module, class and function docstrings found by ``ast``).

    python3 tools/count_code_lines.py seismic_spark/search.py seismic_spark/serving.py

Prints one line per file and a total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize


def code_lines(path: str) -> int:
    src = open(path, encoding="utf-8").read()
    tree = ast.parse(src)
    doc_lines: set[int] = set()
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
                doc_lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in (
            tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER,
        ):
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc_lines)


def main(paths: list[str]) -> None:
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
