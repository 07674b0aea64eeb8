"""tools/loc.py: code-only lines exclude blank, comment-only and
docstring lines, and nothing else."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.loc import main  # noqa: E402

SAMPLE = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line


# a comment-only line
def f(x):
    """One-line docstring."""
    s = """a string that is
    not a docstring"""
    return x + len(s)


class C:
    """Class docstring."""

    y = 1
'''


def test_loc_counts_code_only_lines(tmp_path, capsys):
    sample = tmp_path / "sample.py"
    sample.write_text(SAMPLE)
    main([str(sample)])
    # 18 lines: 6 blank, 1 comment-only, 4 docstring -> 7 code lines
    # (the two-line string assigned to s is code, not a docstring)
    assert capsys.readouterr().out.split() == ["18", "7", str(sample), "18", "7", "total"]
