"""Count code lines in Python sources: every line that carries a token,
skipping comments, blank lines and docstrings.

A docstring here is any string literal that stands alone as a statement
(module, class and function docstrings, and bare string statements). A
line is counted once however many tokens it holds; a multi-line token
(a triple-quoted string used as a value) counts every line it spans.

Usage: python tools/count_lines.py [PATH ...]   (default: schema_enforcer_spark/)
Prints the total, one line per file with -v.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING}


def code_lines(source: str) -> int:
    toks = [t for t in tokenize.generate_tokens(io.StringIO(source).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL)]
    lines: set[int] = set()
    for i, tok in enumerate(toks):
        if tok.type in _SKIP:
            continue
        if tok.type == tokenize.STRING:
            before = toks[i - 1].type if i else tokenize.ENCODING
            after = toks[i + 1].type if i + 1 < len(toks) else tokenize.NEWLINE
            if before in _STATEMENT_START and after in (tokenize.NEWLINE, tokenize.ENDMARKER):
                continue  # a string statement: docstring
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def main(argv: list[str]) -> int:
    verbose = "-v" in argv
    paths = [a for a in argv if a != "-v"] or ["schema_enforcer_spark"]
    total = 0
    for path in paths:
        for f in py_files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            if verbose:
                print(f"{n:6d} {f}")
    print(f"{total:,}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
