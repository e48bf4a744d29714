#!/usr/bin/env python3
"""Count lines covered by repeated 6-line windows.

Usage: dup_windows.py [--strings] FILE...

A window is 6 consecutive lines, compared after trimming whitespace. A
line is counted when some window that covers it already appeared earlier:
earlier in the same file, or anywhere in a file listed before it. Windows
that contain a line of 3 or fewer characters (blank lines, lone braces)
are skipped, so closing brackets do not make blocks look alike.

--strings restricts the count to the lines of triple-quoted strings (the
oracle SQL of the query registries), the lines that open and close each
string included; a window is then 6 consecutive lines of one string.
Direction 5(b)'s per-file figures come from one run per file.

Prints one `<count>  <file>` line per file, then `<total>  total`.
"""
import sys

WINDOW = 6
MIN_CHARS = 4


def segments(lines, strings_only):
    """Runs of (line number, trimmed text) that windows may span."""
    if not strings_only:
        return [[(i, l.strip()) for i, l in enumerate(lines)]]
    segs, cur, inside = [], [], False
    for i, l in enumerate(lines):
        quotes = l.count('"""')
        # The lines that open and close a string belong to it too.
        if inside or quotes:
            cur.append((i, l.strip()))
        if quotes % 2 == 1:
            if inside:
                segs.append(cur)
                cur = []
            inside = not inside
    return segs


def main(argv):
    strings_only = "--strings" in argv
    files = [a for a in argv if a != "--strings"]
    if not files:
        sys.exit(__doc__)
    seen, total = set(), 0
    for path in files:
        with open(path, encoding="utf-8") as f:
            lines = f.read().split("\n")
        covered = set()
        for seg in segments(lines, strings_only):
            for s in range(len(seg) - WINDOW + 1):
                win = seg[s:s + WINDOW]
                texts = tuple(t for _, t in win)
                if any(len(t) < MIN_CHARS for t in texts):
                    continue
                if texts in seen:
                    covered.update(i for i, _ in win)
                else:
                    seen.add(texts)
        print(f"{len(covered)}  {path}")
        total += len(covered)
    print(f"{total}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
