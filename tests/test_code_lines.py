"""scripts/code_lines.py counts the library-size figure ROADMAP.md
tracks: lines that are not blank, not comments and not docstrings.
No JVM."""

from __future__ import annotations

import importlib.util
import os

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "code_lines.py",
)

SRC = '''"""Module docstring
over two lines."""

# a comment line
import os  # a trailing comment


class C:
    """Class docstring."""

    def f(self):
        """Function docstring
        over two lines."""
        s = """a multi-line
string literal"""
        return s
'''


def _code_lines():
    spec = importlib.util.spec_from_file_location("code_lines", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.code_lines


def test_code_lines_skips_blank_comment_and_docstring_lines():
    # import, class, def, the literal's two lines, return
    assert _code_lines()(SRC) == 6
