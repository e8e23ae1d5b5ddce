"""Count code lines of Python files: lines that carry a token other than a
comment, a docstring or layout (blank lines, newlines, indents).

A docstring is any string literal that forms a whole statement (the module,
class and function docstrings, and stray string statements). Every line a
counted token spans is counted once, so a multi-line expression counts each
of its lines.

Usage::

    python scripts/code_lines.py ticdc_spark/streaming        # a directory
    python scripts/code_lines.py ticdc_spark/streaming/*.py   # or files

prints one ``<lines>  <path>`` row per file (a directory stands for every
``*.py`` file below it, recursively) and a ``total`` row.
"""

from __future__ import annotations

import os
import sys
import tokenize

_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_STMT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
               tokenize.ENCODING}


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        toks = [t for t in tokenize.tokenize(f.readline)
                if t.type not in (tokenize.COMMENT, tokenize.NL)]
    lines: set = set()
    for i, t in enumerate(toks):
        if t.type in _LAYOUT:
            continue
        if (t.type == tokenize.STRING
                and (i == 0 or toks[i - 1].type in _STMT_START)
                and i + 1 < len(toks) and toks[i + 1].type == tokenize.NEWLINE):
            continue  # a docstring
        lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def py_files(path: str) -> list:
    """``path`` itself, or every ``*.py`` file below a directory, sorted."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".py"))


def main(paths: list) -> int:
    total = 0
    for p in (f for path in paths for f in py_files(path)):
        n = code_lines(p)
        total += n
        print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
