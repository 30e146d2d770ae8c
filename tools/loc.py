#!/usr/bin/env python3
"""Code lines of the Scala sources: non-blank lines that hold something
besides comments. Scaladoc and every other `/* */` or `//` comment does
not count, so deleting comments never shows as a smaller program.

Usage: python3 tools/loc.py [REV]

With no argument it counts the working tree; with a git revision (a
commit, branch or tag) it counts that revision's files instead, read
through `git show`, so `python3 tools/loc.py cfe612a` next to
`python3 tools/loc.py` gives a before/after pair. It prints one line
per group:

  tx       the manifest-protocol layer: Manifest, Ledger, Catalog and
           every Tx*Stack under src/main/scala/graft/operators, then
           one indented line per file of that layer
  queries  src/main/scala/graft/queries
  tools    src/main/scala/graft/tools
  main     all of src/main/scala"""
import os
import re
import subprocess
import sys

MAIN = "src/main/scala/"
OPS = MAIN + "graft/operators/"
TX = re.compile(r"^" + re.escape(OPS) + r"(Manifest|Ledger|Catalog|Tx\w*Stack)\.scala$")
CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
GROUPS = (
    ("tx", lambda p: bool(TX.match(p))),
    ("queries", lambda p: p.startswith(MAIN + "graft/queries/")),
    ("tools", lambda p: p.startswith(MAIN + "graft/tools/")),
    ("main", lambda p: p.startswith(MAIN)),
)


def code_lines(src):
    """Lines with a character outside comments. String and character
    literals are skipped whole, so a `//` or `/*` inside one (a
    `file:///` URI) is not taken for a comment. Block comments nest, as
    in Scala."""
    n, i, depth, line_has_code = 0, 0, 0, False
    end = len(src)
    while i < end:
        c = src[i]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
        elif depth:
            if src.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif src.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif src.startswith("//", i):
            i = src.find("\n", i)
            i = end if i < 0 else i
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
        elif src.startswith('"""', i):
            close = src.find('"""', i + 3)
            close = end if close < 0 else close + 3
            # a multi-line string's inner lines are code lines
            for ch in src[i:close]:
                if ch == "\n":
                    n += 1
            line_has_code, i = True, close
        elif c == '"':
            i += 1
            while i < end and src[i] not in '"\n':
                i += 2 if src[i] == "\\" else 1
            line_has_code, i = True, i + 1
        elif c == "'" and CHAR.match(src, i):
            line_has_code, i = True, CHAR.match(src, i).end()
        else:
            line_has_code = line_has_code or not c.isspace()
            i += 1
    return n + line_has_code


def sources(rev):
    """(path, text) of every Scala file under src/main/scala."""
    if rev is None:
        for d, _, fs in os.walk(MAIN):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        yield p, fh.read()
        return
    paths = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, MAIN],
                           check=True, capture_output=True, text=True).stdout
    for p in paths.split():
        if p.endswith(".scala"):
            yield p, subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                    capture_output=True, text=True).stdout


def main(argv):
    if len(argv) > 2 or (len(argv) == 2 and argv[1].startswith("-")):
        sys.exit(__doc__)
    root = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                          capture_output=True, text=True).stdout.strip()
    os.chdir(root)
    totals = {g: [0, 0] for g, _ in GROUPS}
    tx_files = {}
    for path, text in sources(argv[1] if len(argv) == 2 else None):
        lines = code_lines(text)
        if TX.match(path):
            tx_files[os.path.basename(path)] = lines
        for g, member in GROUPS:
            if member(path):
                totals[g][0] += 1
                totals[g][1] += lines
    for g, (files, lines) in totals.items():
        print(f"{g:8} {lines:6d} code lines in {files} files")
        if g == "tx":
            for name, n in sorted(tx_files.items()):
                print(f"  {name:22} {n:6d}")


if __name__ == "__main__":
    main(sys.argv)
