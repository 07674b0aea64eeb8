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


def test_modules_are_named_by_family():
    """Modules are named by operator family, not by round: no module
    name says "extra" or ends in a digit (the mp3 and mp4 container
    formats carry theirs in the format's name), and every
    aggregate query (``a<N>_*``) is registered from queries_aggregates
    except a34, which stays in ordered.py beside its prefix-sum
    primitives."""
    import re

    from realestate_engine.registry import QUERIES, load_all

    pkg = os.path.join(os.path.dirname(__file__), "..", "realestate_engine")
    names = [f[:-3] for f in os.listdir(pkg) if f.endswith(".py")]
    round_named = [
        n for n in names
        if "extra" in n or (n[-1].isdigit() and n not in ("mp3", "mp4"))
    ]
    assert round_named == []

    load_all()
    misplaced = {
        name: fn.__module__
        for name, fn in QUERIES.items()
        if re.match(r"a\d+_", name)
        and not name.startswith("a34_")
        and fn.__module__ != "realestate_engine.queries_aggregates"
    }
    assert misplaced == {}
