import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

from pkg_size import code_lines  # noqa: E402

SOURCE = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line


# a comment-only line
def f(x):
    """One-line docstring."""
    s = """not a docstring:
    an assigned string spans two lines"""
    return (x +
            1)


class C:
    """Class docstring."""

    y = 2
'''


def test_code_lines_skips_blanks_comments_and_docstrings():
    # import, def, s = (2 lines), return (2 lines), class, y
    assert code_lines(SOURCE) == 8


def test_code_lines_empty_source():
    assert code_lines("") == 0
    assert code_lines("# only a comment\n\n") == 0
