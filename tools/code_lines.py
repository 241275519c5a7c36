#!/usr/bin/env python3
"""Per-file code lines of Scala/Java sources at two git revisions.

A code line is a non-blank line with at least one character outside
`//` line comments and `/* */` block comments (Scala block comments
nest). Comment markers inside string and character literals, including
triple-quoted strings, do not count as comments.

Usage:
    python3 tools/code_lines.py <rev-a> <rev-b> <file>...

A file absent at a revision counts 0 lines there. Prints one row per
file (lines at rev-a, lines at rev-b, difference) and the total.
"""
import subprocess
import sys


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    lines = set()
    line = 1
    depth = 0        # block-comment nesting depth
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        two = text[i:i + 2]
        if c == "\n":
            line += 1
            i += 1
        elif depth > 0:
            if two == "/*":
                depth += 1
                i += 2
            elif two == "*/":
                depth -= 1
                i += 2
            else:
                i += 1
        elif two == "/*":
            depth = 1
            i += 2
        elif two == "//":
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """a"""" ends late
                end += 1
            for _ in range(text.count("\n", i, end) + 1):
                lines.add(line)
                line += 1
            line -= 1
            i = end
        elif c == '"' or (c == "'" and text[i + 2:i + 3] == "'") or \
                (c == "'" and text[i + 1:i + 2] == "\\"):
            lines.add(line)
            i += 1
            while i < n and text[i] != c and text[i] != "\n":
                i += 2 if text[i] == "\\" else 1
            i += 1
        elif c.isspace():
            i += 1
        else:
            lines.add(line)
            i += 1
    return len(lines)


def at_rev(rev, path):
    """The file's text at `rev`, or None when it does not exist there."""
    r = subprocess.run(["git", "show", f"{rev}:{path}"],
                       capture_output=True, text=True)
    return r.stdout if r.returncode == 0 else None


def main(argv):
    if len(argv) < 4:
        sys.exit(__doc__)
    a, b, files = argv[1], argv[2], argv[3:]
    width = max(len(f) for f in files + ["total"])
    print(f"{'file':<{width}}  {a[:10]:>10}  {b[:10]:>10}  {'delta':>6}")
    ta = tb = 0
    for f in files:
        la, lb = (code_lines(t) if t is not None else 0
                  for t in (at_rev(a, f), at_rev(b, f)))
        ta, tb = ta + la, tb + lb
        print(f"{f:<{width}}  {la:>10}  {lb:>10}  {lb - la:>+6}")
    print(f"{'total':<{width}}  {ta:>10}  {tb:>10}  {tb - ta:>+6}")


if __name__ == "__main__":
    main(sys.argv)
