#!/usr/bin/env python3
"""Scala line counts of two git revisions, split into code, comment and
blank lines, with the deltas.

    tools/loc.py <rev-a> [<rev-b>] [--path src/main]

<rev-b> defaults to the index (the staged tree, what the next commit
holds). Files are listed with `git ls-tree` / `git ls-files` and read
with `git show`; nothing in the repository or the working tree is
changed.

A line is blank when it holds only whitespace, code when any character
of it lies outside a comment (a triple-quoted string spanning lines is
code), and comment otherwise: `//` lines, block and scaladoc comments.
Block comments nest, as in Scala.
"""
import argparse
import subprocess
import sys


def git(*args):
    return subprocess.run(("git",) + args, check=True,
                          capture_output=True).stdout


def files(rev, path):
    if rev is None:
        out = git("ls-files", "-z", "--cached", "--", path)
    else:
        out = git("ls-tree", "-r", "-z", "--name-only", rev, "--", path)
    return sorted(f for f in out.decode().split("\0") if f.endswith(".scala"))


def classify(text):
    """(code, comment, blank) line counts of one Scala source."""
    code = comment = blank = 0
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    for line in text.splitlines():
        has_code = has_comment = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                has_comment = True
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
            elif in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                depth = 1
                has_comment = True
                i += 2
            elif line.startswith('"""', i):
                in_str = '"""'
                has_code = True
                i += 3
            elif c == '"':
                in_str = '"'
                has_code = True
                i += 1
            elif c == "'" and line.startswith("\\", i + 1):
                has_code = True  # an escaped char literal such as '\"'
                end = line.find("'", i + 3)
                i = n if end < 0 else end + 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                has_code = True  # a char literal such as '"'
                i += 3
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if in_str == '"':
            in_str = None  # single-quoted strings end with their line
        if has_code or in_str == '"""':
            code += 1
        elif has_comment or depth:
            comment += 1
        else:
            blank += 1
    return code, comment, blank


def count(rev, path):
    totals = [0, 0, 0]
    names = files(rev, path)
    for f in names:
        text = git("show", f"{rev or ''}:{f}").decode("utf-8", "replace")
        for k, v in enumerate(classify(text)):
            totals[k] += v
    return len(names), totals


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b", nargs="?")
    ap.add_argument("--path", default="src/main")
    a = ap.parse_args()
    sides = [(a.rev_a, count(a.rev_a, a.path)),
             (a.rev_b or "index", count(a.rev_b, a.path))]
    print(f"{a.path} Scala lines")
    print(f"{'revision':<14}{'files':>7}{'total':>9}{'code':>9}"
          f"{'comment':>9}{'blank':>9}")
    for name, (nf, (c, m, b)) in sides:
        print(f"{name:<14}{nf:>7}{c + m + b:>9}{c:>9}{m:>9}{b:>9}")
    (fa, ta), (fb, tb) = sides[0][1], sides[1][1]
    d = [y - x for x, y in zip(ta, tb)]
    print(f"{'delta':<14}{fb - fa:>+7}{sum(d):>+9}{d[0]:>+9}{d[1]:>+9}"
          f"{d[2]:>+9}")


if __name__ == "__main__":
    sys.exit(main())
