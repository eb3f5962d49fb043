#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the engine's main Scala code.

A line counts when it holds at least one character of code outside
`//` line comments and `/* ... */` blocks (Scala block comments nest;
scaladoc `/** ... */` is a block comment too). Comment markers inside
string and character literals are code, not comments.

Usage:
    python3 scripts/loc.py [ROOT]        # per-file counts, then the total
    python3 scripts/loc.py --total [ROOT]

ROOT defaults to the repository root (the directory above this script);
files are `ROOT/src/main/**/*.scala`.
"""
import os
import sys


def code_lines(text):
    """Number of lines that carry code outside comments."""
    lines = set()
    line = 0
    depth = 0          # block-comment nesting depth
    in_line_comment = False
    quote = None       # None, '"', '"""' or "'"
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            in_line_comment = False
            i += 1
            continue
        if in_line_comment:
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if quote:
            if not c.isspace():
                lines.add(line)
            if quote == '"""':
                if text.startswith('"""', i):
                    # a run of quotes closes on its last three
                    while text.startswith('""""', i):
                        i += 1
                    quote = None
                    i += 3
                else:
                    i += 1
            elif c == "\\":
                i += 2
            else:
                if c == quote:
                    quote = None
                i += 1
            continue
        if text.startswith("//", i):
            in_line_comment = True
            i += 2
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            lines.add(line)
        if text.startswith('"""', i):
            quote = '"""'
            i += 3
        elif c == '"':
            quote = '"'
            i += 1
        elif c == "'" and _is_char_literal(text, i):
            quote = "'"
            i += 1
        else:
            i += 1
    return len(lines)


def _is_char_literal(text, i):
    """`'x'` or `'\\n'` — not a Scala symbol or a type-parameter tick."""
    if text.startswith("\\", i + 1):
        return True
    return i + 2 < len(text) and text[i + 2] == "'"


def scala_files(root):
    base = os.path.join(root, "src", "main")
    for d, _, names in os.walk(base):
        for name in names:
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a != "--total"]
    root = args[0] if args else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    counts = []
    for path in sorted(scala_files(root)):
        with open(path, encoding="utf-8") as f:
            counts.append((os.path.relpath(path, root), code_lines(f.read())))
    if not total_only:
        for path, k in counts:
            print(f"{k:7d}  {path}")
    print(f"{sum(k for _, k in counts):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
