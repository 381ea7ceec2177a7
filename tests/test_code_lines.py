"""tools/code_lines.py: its count and its usage error."""

import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "code_lines.py")


def _run(*args):
    return subprocess.run([sys.executable, TOOL, *args],
                          capture_output=True, text=True)


def test_no_arguments_prints_usage_and_exits_2():
    r = _run()
    assert r.returncode == 2
    assert "Usage: python tools/code_lines.py FILE [NAME ...]" in r.stderr
    assert r.stdout == ""


def test_counts_code_lines_only(tmp_path):
    src = tmp_path / "m.py"
    src.write_text('"""Doc."""\n\n# note\nX = 1\n\n\ndef f():\n'
                   '    """Doc."""\n    return (X +\n            1)\n')
    assert _run(str(src)).stdout.strip() == "4"
    assert _run(str(src), "f").stdout.strip() == "3"


def test_counts_names_bound_by_tuple_targets(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("A, (B, C) = 1, (2,\n           3)\nD = E = 4\n"
                   "F = 5\n")
    assert _run(str(src), "B").stdout.strip() == "2"
    assert _run(str(src), "A", "C").stdout.strip() == "2"
    assert _run(str(src), "E").stdout.strip() == "1"
    assert _run(str(src), "A", "F").stdout.strip() == "3"
