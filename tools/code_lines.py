"""Count the code lines of a Python file: lines that hold a token other
than a comment, a docstring or another bare string statement.

Usage: python tools/code_lines.py FILE [NAME ...]

With NAMEs, prints the code lines of the named top-level functions,
classes and assignments together; without, those of the whole file.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(src: str) -> set[int]:
    """The 1-based numbers of the code lines of ``src``."""
    toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
    lines, prev = set(), tokenize.NEWLINE
    for i, t in enumerate(toks):
        if t.type in _SKIP:
            if t.type not in (tokenize.COMMENT, tokenize.NL):
                prev = t.type
            continue
        if t.type == tokenize.STRING and prev in (
                tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT):
            nxt = next((u for u in toks[i + 1:]
                        if u.type not in (tokenize.COMMENT, tokenize.NL)),
                       None)
            if nxt is not None and nxt.type == tokenize.NEWLINE:
                prev = t.type
                continue  # a docstring or other bare string statement
        prev = t.type
        lines.update(range(t.start[0], t.end[0] + 1))
    return lines


def _names(node: ast.stmt) -> set[str]:
    """The names a top-level statement defines or binds."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return {node.name}
    if isinstance(node, ast.Assign):
        return {n.id for t in node.targets for n in ast.walk(t)
                if isinstance(n, ast.Name)}
    return set()


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    path, names = argv[0], set(argv[1:])
    with open(path) as f:
        src = f.read()
    code = code_lines(src)
    if not names:
        print(len(code))
        return 0
    total = 0
    for node in ast.parse(src).body:
        if _names(node) & names:
            total += sum(node.lineno <= ln <= node.end_lineno for ln in code)
    print(total)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
