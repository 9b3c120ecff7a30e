"""Count the lines that carry code in Python sources.

    python3 tools/code_lines.py <dir or file>...

A line carries code when it holds a token other than a comment, a
docstring or a line break (indentation tokens do not count either). A
docstring is any logical line that is only a string literal (module,
class and function docstrings, and bare string statements). A token that
spans lines, such as a multi-line string inside an expression, counts on
every line it spans. Prints one ``<lines>\t<path>`` row per ``.py`` file,
in path order, then ``<lines>\ttotal``.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def code_lines(source: str) -> int:
    """The number of lines of ``source`` that carry code."""
    lines: set[int] = set()
    logical: list[tokenize.TokenInfo] = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.NEWLINE or tok.type == tokenize.ENDMARKER:
            if not all(t.type == tokenize.STRING for t in logical):
                for t in logical:
                    lines.update(range(t.start[0], t.end[0] + 1))
            logical = []
        elif tok.type not in _NOT_CODE:
            logical.append(tok)
    return len(lines)


def python_files(paths: list[str]) -> list[str]:
    """Every ``.py`` file named or under a named directory, sorted."""
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
            continue
        for root, dirs, names in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith((".", "__pycache__"))]
            out.extend(os.path.join(root, n) for n in names if n.endswith(".py"))
    return sorted(out)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    total = 0
    for path in python_files(argv):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n}\t{path}")
    print(f"{total}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
