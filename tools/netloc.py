#!/usr/bin/env python3
"""Added, removed and net lines under src/main between two revisions.

Usage: tools/netloc.py <base> [<head>]

<head> defaults to the working tree (untracked files are not seen:
stage new files first), so `tools/netloc.py HEAD~1` on a clean checkout
reports the last commit. Two rows are printed: every line, and
code-only lines. A code-only line is not blank, not a `//` line, and
not part of a `/* ... */` or `/** ... */` block that starts at the head
of its line — deleting comments is not a code reduction.
"""
import re
import subprocess
import sys

ROOT = "src/main"


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def content(rev, path):
    """The file at `rev` (None = working tree), '' when absent."""
    if rev is None:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return ""
    r = subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True,
                       text=True)
    return r.stdout if r.returncode == 0 else ""


def code_flags(text):
    """One flag per line: True when the line counts as code."""
    flags, in_block = [], False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            flags.append(False)
            in_block = "*/" not in s
        elif s.startswith("/*"):
            flags.append(False)
            in_block = "*/" not in s[2:]
        else:
            flags.append(bool(s) and not s.startswith("//"))
    return flags


HUNK = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base, head = argv[1], (argv[2] if len(argv) == 3 else None)
    revs = [base] + ([head] if head else [])
    files = git("diff", "--no-renames", "--name-only", *revs, "--",
                ROOT).split()
    tot = {"added": 0, "removed": 0}
    code = {"added": 0, "removed": 0}
    for path in files:
        old = code_flags(content(base, path))
        new = code_flags(content(head, path))
        diff = git("diff", "--no-renames", "--unified=0", *revs, "--", path)
        for line in diff.splitlines():
            m = HUNK.match(line)
            if not m:
                continue
            a, b = int(m.group(1)), int(m.group(2) or 1)
            c, d = int(m.group(3)), int(m.group(4) or 1)
            tot["removed"] += b
            tot["added"] += d
            code["removed"] += sum(old[a - 1:a - 1 + b])
            code["added"] += sum(new[c - 1:c - 1 + d])
    print(f"{ROOT}: {base}..{head or 'working tree'} ({len(files)} files)")
    print(f"{'':6}{'added':>9}{'removed':>9}{'net':>9}")
    for name, n in (("total", tot), ("code", code)):
        print(f"{name:6}{n['added']:>9}{n['removed']:>9}"
              f"{n['added'] - n['removed']:>+9}")


if __name__ == "__main__":
    main(sys.argv)
