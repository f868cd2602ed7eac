"""Count the code lines of a Python source tree: lines holding a token
other than a comment, with blank lines and docstrings left out.

Usage: python scripts/code_lines.py [DIR]   (default: the package)
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER}
DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    docs = set()
    for node in ast.walk(ast.parse(src)):
        body = node.body if isinstance(node, DOC_OWNERS) else None
        if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                and isinstance(body[0].value.value, str):
            docs.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(n for n in range(tok.start[0], tok.end[0] + 1) if n not in docs)
    return len(lines)


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "fluent_plugin_detect_exceptions_spark")
    print(sum(code_lines(p.read_text()) for p in sorted(root.rglob("*.py"))))


if __name__ == "__main__":
    main()
