"""``tools/code_lines.py``: lines that carry code, without Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import code_lines  # noqa: E402

FIXTURE = '''"""Module docstring,
over two lines."""

import os  # a trailing comment does not hide the code


# a comment line
def f(x):
    """Function docstring."""
    "a bare string statement"
    sql = """
        SELECT 1
    """
    return (x +
            1)


class C:
    \'\'\'Class docstring.\'\'\'

    y = 2
'''


def test_counts_code_and_skips_comments_docstrings_and_blanks():
    # import, def, sql (3 lines), return (2 lines), class, y = 2
    assert code_lines.code_lines(FIXTURE) == 9


def test_empty_and_docstring_only_sources_carry_no_code():
    assert code_lines.code_lines("") == 0
    assert code_lines.code_lines('"""Only a docstring."""\n# and a comment\n') == 0


def test_main_prints_per_file_rows_and_a_total(tmp_path, capsys):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "a.py").write_text(FIXTURE)
    (pkg / "sub" / "b.py").write_text("x = 1\n")
    (pkg / "notes.txt").write_text("x = 1\n")
    assert code_lines.main([str(pkg)]) == 0
    rows = [line.split("\t") for line in capsys.readouterr().out.splitlines()]
    assert rows == [
        ["9", str(pkg / "a.py")],
        ["1", str(pkg / "sub" / "b.py")],
        ["10", "total"],
    ]
