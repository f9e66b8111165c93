#!/usr/bin/env python3
"""Count the lines of the Scala sources under each path.

Usage: python3 tools/loc.py [PATH ...]     (default: src/main)

For each path (a directory, searched for *.scala, or one file) it prints
the total line count and the code lines: lines that are not blank, not a
`//` comment and not inside a `/* ... */` or scaladoc `/** ... */` block
that opens at the start of the line. A last row sums the paths when there
is more than one.
"""

import sys
from pathlib import Path


def count(text):
    total = code = 0
    in_block = False
    for line in text.splitlines():
        total += 1
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
        elif s and not s.startswith("//"):
            code += 1
    return total, code


def files(path):
    p = Path(path)
    return [p] if p.is_file() else sorted(p.rglob("*.scala"))


def main(paths):
    rows = []
    for path in paths or ["src/main"]:
        found = files(path)
        if not found:
            sys.exit(f"loc: no Scala sources under {path}")
        sums = [count(f.read_text(encoding="utf-8")) for f in found]
        rows.append((path, sum(t for t, _ in sums), sum(c for _, c in sums)))
    if len(rows) > 1:
        rows.append(("all", sum(r[1] for r in rows), sum(r[2] for r in rows)))
    width = max(len(r[0]) for r in rows)
    print(f"{'path':<{width}} {'total':>8} {'code':>8}")
    for path, total, code in rows:
        print(f"{path:<{width}} {total:>8} {code:>8}")


if __name__ == "__main__":
    main(sys.argv[1:])
