#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the engine's main Scala code,
or the environment variables it reads.

A line counts when it holds at least one character of code outside
`//` line comments and `/* ... */` blocks (Scala block comments nest;
scaladoc `/** ... */` is a block comment too). Comment markers inside
string and character literals are code, not comments.

Usage:
    python3 scripts/loc.py [ROOT]        # per-file counts, then the total
    python3 scripts/loc.py --total [ROOT]
    python3 scripts/loc.py --knobs [ROOT]

`--knobs` prints each distinct environment-variable name that
`ROOT/src/main/**/*.scala` and `ROOT/build.sbt` read through
`sys.env.get("NAME")`, `sys.env.getOrElse("NAME", ...)` or
`sys.env.contains("NAME")`, sorted, then their count.

ROOT defaults to the repository root (the directory above this script);
files are `ROOT/src/main/**/*.scala`.
"""
import os
import re
import sys

ENV_READ = re.compile(r'sys\.env\.(?:get|getOrElse|contains)\(\s*"([^"]+)"')


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


def knobs(root):
    """Distinct environment-variable names read by main code and the build."""
    paths = list(scala_files(root)) + [os.path.join(root, "build.sbt")]
    names = set()
    for path in paths:
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                names.update(ENV_READ.findall(f.read()))
    return sorted(names)


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a not in ("--total", "--knobs")]
    root = args[0] if args else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    if "--knobs" in argv:
        names = knobs(root)
        for name in names:
            print(name)
        print(f"{len(names):7d}  knobs")
        return
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
