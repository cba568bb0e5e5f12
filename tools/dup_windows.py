"""Count duplicated 6-line code windows across the engine package.

A window is 6 consecutive *kept* lines of one file. A line is kept after
stripping it, cutting any text after `#`, and dropping it if it is then
blank or lies inside a string literal spanning more than one line
(docstrings and oracle SQL, found with `ast`). Only windows holding at
least two `(` are hashed, so runs of bare names, brackets or `return`s
do not count. A window is duplicated when its text occurs at two or more
places (in one file or across files).

Scans every `*.py` under `etl_ch_destination_spark/` and prints the
number of duplicated windows, then how many of them touch each file and
each pair of files (every non-zero row; a file or pair not listed
shares none). Stdlib only, deterministic, no options:

    python tools/dup_windows.py
"""

from __future__ import annotations

import ast
import hashlib
import itertools
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "etl_ch_destination_spark"
WINDOW = 6
MIN_PARENS = 2


def multiline_string_lines(source: str) -> set[int]:
    """1-based line numbers covered by string literals spanning lines."""
    lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        is_str = isinstance(node, ast.JoinedStr) or (
            isinstance(node, ast.Constant) and isinstance(node.value, str))
        if is_str and node.end_lineno > node.lineno:
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


def kept_lines(source: str) -> list[str]:
    skip = multiline_string_lines(source)
    kept = []
    for no, raw in enumerate(source.splitlines(), start=1):
        if no in skip:
            continue
        line = raw.split("#", 1)[0].strip()
        if line:
            kept.append(line)
    return kept


def windows(lines: list[str]):
    for i in range(len(lines) - WINDOW + 1):
        text = "\n".join(lines[i:i + WINDOW])
        if text.count("(") >= MIN_PARENS:
            yield hashlib.sha1(text.encode()).hexdigest()


def scan(root: Path) -> dict[str, list[str]]:
    """Window hash → the files of each place it occurs (repeats kept)."""
    places: dict[str, list[str]] = defaultdict(list)
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for h in windows(kept_lines(path.read_text())):
            places[h].append(rel)
    return {h: files for h, files in places.items() if len(files) >= 2}


def main() -> None:
    dups = scan(ROOT)
    per_file: Counter[str] = Counter()
    per_pair: Counter[tuple[str, str]] = Counter()
    for files in dups.values():
        distinct = sorted(set(files))
        per_file.update(distinct)
        per_pair.update(itertools.combinations(distinct, 2))

    print(f"duplicated windows: {len(dups)}")
    print("\nper file:")
    for f, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:5d}  {f}")
    print("\nper file pair:")
    for (a, b), n in sorted(per_pair.items(),
                            key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:5d}  {a} <-> {b}")


if __name__ == "__main__":
    main()
