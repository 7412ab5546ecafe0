#!/usr/bin/env python3
"""Change in Scala code lines under src/main between two revisions.

    python3 tools/loc_delta.py <base-rev> [<rev>]

Without <rev> the working tree is compared. A line counts as code when
any non-blank character on it lies outside a comment, so blank lines,
`//` lines and the lines of `/* ... */` and scaladoc blocks do not count;
a line holding code and a trailing comment does. Strings and character
literals are skipped while looking for comments, so "data/*" opens none.

Prints one row per file whose count changed (base, rev, delta), then the
total over src/main.
"""
import os
import re
import subprocess
import sys

ROOT = subprocess.run(["git", "rev-parse", "--show-toplevel"], stdout=subprocess.PIPE,
                      text=True, check=True).stdout.strip()
PREFIX = "src/main/"
CHAR_LIT = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def code_lines(text):
    """Number of lines of `text` that carry Scala code."""
    n, i, depth, string = 0, 0, 0, None  # string: None, '"' or '"""'
    line_has_code = False
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
        elif depth:
            if text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            elif text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            else:
                i += 1
        elif string:
            if not c.isspace():
                line_has_code = True
            if string == '"' and c == "\\":
                i += 2
            elif text.startswith(string, i):
                i += len(string)
                string = None
            else:
                i += 1
        elif text.startswith("//", i):
            while i < len(text) and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            line_has_code, string, i = True, '"""', i + 3
        elif c == '"':
            line_has_code, string, i = True, '"', i + 1
        elif c == "'" and CHAR_LIT.match(text, i):
            line_has_code, i = True, CHAR_LIT.match(text, i).end()
        else:
            if not c.isspace():
                line_has_code = True
            i += 1
    return n + line_has_code


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), stdout=subprocess.PIPE,
                          text=True, check=True).stdout


def files_at(rev):
    """{path: text} of the Scala files under src/main at `rev` (None = working tree)."""
    if rev is None:
        out = {}
        for d, _, names in os.walk(os.path.join(ROOT, PREFIX)):
            for name in names:
                if name.endswith(".scala"):
                    path = os.path.join(d, name)
                    with open(path, encoding="utf-8") as fh:
                        out[os.path.relpath(path, ROOT)] = fh.read()
        return out
    paths = git("ls-tree", "-r", "--name-only", rev, "--", PREFIX).split()
    return {p: git("show", "%s:%s" % (rev, p)) for p in paths if p.endswith(".scala")}


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2].strip())
    base = files_at(argv[1])
    rev = files_at(argv[2] if len(argv) == 3 else None)
    rows, tot_a, tot_b = [], 0, 0
    for path in sorted(set(base) | set(rev)):
        a = code_lines(base[path]) if path in base else 0
        b = code_lines(rev[path]) if path in rev else 0
        tot_a, tot_b = tot_a + a, tot_b + b
        if a != b:
            rows.append((path, a, b))
    width = max([len(p) for p, _, _ in rows] + [len("total " + PREFIX)])
    for path, a, b in rows:
        print("%-*s %7d %7d %+7d" % (width, path, a, b, b - a))
    print("%-*s %7d %7d %+7d" % (width, "total " + PREFIX, tot_a, tot_b, tot_b - tot_a))


if __name__ == "__main__":
    main(sys.argv)
