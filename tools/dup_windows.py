#!/usr/bin/env python3
"""Count duplicated 6-line windows in the tracked source under src/main.

A window is 6 consecutive lines of one file, each stripped of leading
and trailing whitespace. A window counts only when at least 5 of its
lines are substantive: longer than 3 characters and not a comment line
(starting with `*`, `/*` or `//`). A window text is duplicated when it
occurs at least twice anywhere in the tree (the same file or another).

Prints the number of distinct duplicated window texts, then, per file,
the number of window positions whose text is duplicated, largest first.

Usage (from the repository root):
    python3 tools/dup_windows.py [path ...]    # default: src/main
"""
import subprocess
import sys
from collections import Counter

WINDOW = 6
MIN_SUBSTANTIVE = 5


def substantive(line):
    return len(line) > 3 and not line.startswith(("*", "/*", "//"))


def windows(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = [ln.strip() for ln in f]
    for i in range(len(lines) - WINDOW + 1):
        win = lines[i:i + WINDOW]
        if sum(map(substantive, win)) >= MIN_SUBSTANTIVE:
            yield "\n".join(win)


def main(paths):
    files = subprocess.run(["git", "ls-files", *paths], check=True,
                           capture_output=True, text=True).stdout.split()
    per_file = {f: list(windows(f)) for f in files}
    counts = Counter(w for ws in per_file.values() for w in ws)
    dup = {w for w, c in counts.items() if c >= 2}
    print(f"duplicated windows: {len(dup)}")
    occ = Counter({f: sum(w in dup for w in ws)
                   for f, ws in per_file.items()})
    for f, n in occ.most_common():
        if n:
            print(f"{n:6d}  {f}")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])
