#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the engine's main Scala code,
or the environment variables and session conf keys it reads, or list
its uncalled `def`s.

A line counts when it holds at least one character of code outside
`//` line comments and `/* ... */` blocks (Scala block comments nest;
scaladoc `/** ... */` is a block comment too). Comment markers inside
string and character literals are code, not comments.

Usage:
    python3 scripts/loc.py [ROOT]        # per-file counts, then the total
    python3 scripts/loc.py --total [ROOT]
    python3 scripts/loc.py --knobs [ROOT]
    python3 scripts/loc.py --orphans [ROOT]

`--knobs` prints each distinct environment-variable name that
`ROOT/src/main/**/*.scala` and `ROOT/build.sbt` read through
`sys.env.get("NAME")`, `sys.env.getOrElse("NAME", ...)` or
`sys.env.contains("NAME")`, sorted, then their count; then each
distinct session conf key that `ROOT/src/main` names in a string
literal starting `"spark.graft.` (comments excluded), sorted, then
their count. A literal ending in `.` is a key prefix, completed at
run time (`"spark.graft.x." + suffix`): the family counts once, printed
as `spark.graft.x.*`.

`--orphans` prints each `def` name declared in `ROOT/src/main` whose
name occurs nowhere else in the code (comments excluded) of
`ROOT/src/main` or `ROOT/perfbench/src` — its callers, if any, are
only in tests — sorted, then their count. It is a report, not a gate:
Spark `override`s and reflection-reached members are false positives.

ROOT defaults to the repository root (the directory above this script);
files are `ROOT/src/main/**/*.scala`.
"""
import os
import re
import sys

ENV_READ = re.compile(r'sys\.env\.(?:get|getOrElse|contains)\(\s*"([^"]+)"')
CONF_KEY = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]*)')
DEF_NAME = re.compile(r'\bdef\s+([A-Za-z_][A-Za-z0-9_]*)')
IDENT = re.compile(r'[A-Za-z_][A-Za-z0-9_]*')


def code_lines(text):
    """Number of lines that carry code outside comments."""
    return sum(1 for ln in code_only(text).split("\n") if ln.strip())


def code_only(text):
    """`text` with every comment character blanked (newlines kept)."""
    out = list(text)
    depth = 0          # block-comment nesting depth
    in_line_comment = False
    quote = None       # None, '"', '"""' or "'"
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            in_line_comment = False
            i += 1
            continue
        if in_line_comment or depth:
            out[i] = " "
            if in_line_comment:
                i += 1
            elif text.startswith("/*", i):
                depth += 1
                out[i + 1] = " "
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                out[i + 1] = " "
                i += 2
            else:
                i += 1
            continue
        if quote:
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
            out[i] = out[i + 1] = " "
            i += 2
            continue
        if text.startswith("/*", i):
            depth = 1
            out[i] = out[i + 1] = " "
            i += 2
            continue
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
    return "".join(out)


def _is_char_literal(text, i):
    """`'x'` or `'\\n'` — not a Scala symbol or a type-parameter tick."""
    if text.startswith("\\", i + 1):
        return True
    return i + 2 < len(text) and text[i + 2] == "'"


def scala_files(root, sub=("src", "main")):
    base = os.path.join(root, *sub)
    for d, _, names in os.walk(base):
        for name in names:
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def orphans(root):
    """`def` names of main code that no main or perfbench code names again."""
    texts = [code_only(open(p, encoding="utf-8").read())
             for p in scala_files(root, ("src", "main"))]
    declared = {}
    for t in texts:
        for name in DEF_NAME.findall(t):
            declared[name] = declared.get(name, 0) + 1
    uses = {}
    for t in texts + [code_only(open(p, encoding="utf-8").read())
                      for p in scala_files(root, ("perfbench", "src"))]:
        for name in IDENT.findall(t):
            if name in declared:
                uses[name] = uses.get(name, 0) + 1
    return sorted(n for n, k in declared.items() if uses.get(n, 0) <= k)


def knobs(root):
    """Distinct environment-variable names read by main code and the build."""
    paths = list(scala_files(root)) + [os.path.join(root, "build.sbt")]
    names = set()
    for path in paths:
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                names.update(ENV_READ.findall(f.read()))
    return sorted(names)


def conf_keys(root):
    """Distinct `spark.graft.` session conf keys named by main code."""
    names = set()
    for path in scala_files(root):
        with open(path, encoding="utf-8") as f:
            for key in CONF_KEY.findall(code_only(f.read())):
                names.add(key + "*" if key.endswith(".") else key)
    return sorted(names)


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a not in ("--total", "--knobs", "--orphans")]
    root = args[0] if args else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    if "--knobs" in argv:
        names = knobs(root)
        for name in names:
            print(name)
        print(f"{len(names):7d}  env knobs")
        keys = conf_keys(root)
        for key in keys:
            print(key)
        print(f"{len(keys):7d}  conf keys")
        return
    if "--orphans" in argv:
        names = orphans(root)
        for name in names:
            print(name)
        print(f"{len(names):7d}  orphans")
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
