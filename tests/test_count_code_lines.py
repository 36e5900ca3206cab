"""Pins scripts/count_code_lines.py, the counter ROADMAP's "net lines
removed" is measured with: blank lines, comments and docstrings do not
count; every line a multi-line statement spans does."""

import importlib.util
import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "count_code_lines.py",
)

SNIPPET = '''"""Module docstring,
over two lines."""

# a comment
import os  # a trailing comment


def f(x):
    """Function docstring."""

    y = (x +
         1)
    return "a string expression, not a docstring" + str(y)
'''


def _counter():
    spec = importlib.util.spec_from_file_location("count_code_lines", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_count_source_skips_comments_docstrings_and_blanks():
    # import, def, the two lines of y = (...), return
    assert _counter().count_source(SNIPPET) == 5


def test_cli_counts_files_and_directories(tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "a.py").write_text(SNIPPET)
    (tmp_path / "pkg" / "b.py").write_text("x = 1\n")
    out = subprocess.run(
        [sys.executable, SCRIPT, str(tmp_path / "pkg"),
         str(tmp_path / "pkg" / "b.py")],
        check=True, capture_output=True, text=True,
    ).stdout.split("\n")
    assert [line.split()[0] for line in out if line] == ["6", "1", "7"]
