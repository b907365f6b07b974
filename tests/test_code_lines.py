"""``scripts/code_lines.py``: the code-line count changes report."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "code_lines",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "code_lines.py"),
)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

_SOURCE = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line

# a comment line


class A:
    """Class docstring."""

    x = """a string that is
    not a docstring"""

    def f(self):
        """Function
        docstring."""
        return (
            1
        )
'''


def test_counts_code_not_blanks_comments_or_docstrings():
    # import, class, x = (2 lines), def, return ( 1 )
    assert code_lines.code_lines(_SOURCE) == 8


def test_main_prints_per_file_and_total(tmp_path, capsys):
    a, b = tmp_path / "a.py", tmp_path / "b.py"
    a.write_text(_SOURCE)
    b.write_text("x = 1\n\n# c\n")
    assert code_lines.main([str(a), str(b)]) == 0
    assert capsys.readouterr().out.splitlines() == [
        f"8 {a}", f"1 {b}", "9 total",
    ]
