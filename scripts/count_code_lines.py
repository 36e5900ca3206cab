"""Count code lines in Python files: no blank lines, comments or docstrings.

A line counts when it holds at least one token that is not a comment, a
newline, indentation or a docstring (a string expression standing alone
as a statement). Usage: ``python scripts/count_code_lines.py PATH...``;
directories are walked for ``*.py``. Prints one count per argument and,
with more than one argument, the total.
"""
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def count_source(src: str) -> int:
    lines: set[int] = set()
    prev = tokenize.NEWLINE
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        starts_stmt = prev in (tokenize.NEWLINE, tokenize.INDENT,
                               tokenize.DEDENT, tokenize.NL)
        if tok.type not in _SKIP:
            if not (tok.type == tokenize.STRING and starts_stmt):
                lines.update(range(tok.start[0], tok.end[0] + 1))
        if tok.type not in (tokenize.COMMENT, tokenize.NL):
            prev = tok.type
    return len(lines)


def count_path(path: Path) -> int:
    files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
    return sum(count_source(f.read_text()) for f in files)


if __name__ == "__main__":
    counts = [(a, count_path(Path(a))) for a in sys.argv[1:]]
    for a, n in counts:
        print(f"{n:8d} {a}")
    if len(counts) > 1:
        print(f"{sum(n for _, n in counts):8d} total")
