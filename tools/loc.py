#!/usr/bin/env python3
"""Main-source lines added and removed between a git revision and the
working tree.

    python3 tools/loc.py <rev>

Prints two rows: every changed line, and only code lines (neither
blank nor comment). Each line is classified in the context of its
whole file, old side at <rev> and new side in the working tree, so a
line inside a multi-line `/* ... */` block counts as a comment even
when the diff hunk does not show the opening `/*`. Files not yet
known to git under src/main count as wholly added.
"""
import argparse
import re
import subprocess
import sys

ROOT = "src/main"
SOURCE_SUFFIXES = (".scala", ".java")
HUNK = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")


def classify(lines):
    """One label per line: 'blank', 'comment' or 'code'.

    A line is a comment when, outside string literals, everything on
    it is comment text: `// ...`, a `/* ... */` block (possibly
    spanning lines, nested as Scala allows) or both. A line with any
    code token, or inside a triple-quoted string, counts as code.
    """
    labels = []
    depth = 0
    quote = None  # only a triple-quoted string spans lines
    for line in lines:
        if not line.strip():
            labels.append("comment" if depth else
                          "code" if quote else "blank")
            continue
        code = quote is not None
        i = 0
        n = len(line)
        while i < n:
            c = line[i]
            two = line[i:i + 2]
            if depth > 0:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if quote:
                code = True
                if c == "\\":
                    i += 2
                    continue
                if line.startswith(quote, i):
                    i += len(quote)
                    quote = None
                else:
                    i += 1
                continue
            if two == "//":
                break
            if two == "/*":
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                quote = '"""'
                code = True
                i += 3
                continue
            if c == '"':
                quote = '"'
                code = True
                i += 1
                continue
            if not c.isspace():
                code = True
            i += 1
        if quote == '"':
            quote = None
        labels.append("code" if code else "comment")
    return labels


def git(*args):
    return subprocess.run(("git",) + args, check=True,
                          capture_output=True, text=True).stdout


def old_lines(rev, path):
    try:
        return git("show", f"{rev}:{path}").splitlines()
    except subprocess.CalledProcessError:
        return []


def new_lines(path):
    try:
        with open(path, encoding="utf-8") as f:
            return f.read().splitlines()
    except FileNotFoundError:
        return []


def changed_lines(rev):
    """{path: (removed old line numbers, added new line numbers)}."""
    out = {}
    diff = git("diff", "--no-color", "--no-renames", "-U0", rev, "--", ROOT)
    path = None
    for line in diff.splitlines():
        if line.startswith("diff --git "):
            path = line.split(" b/", 1)[1]
            out.setdefault(path, (set(), set()))
            continue
        m = HUNK.match(line)
        if m and path:
            o, oc, a, ac = m.groups()
            oc = 1 if oc is None else int(oc)
            ac = 1 if ac is None else int(ac)
            out[path][0].update(range(int(o), int(o) + oc))
            out[path][1].update(range(int(a), int(a) + ac))
    untracked = git("ls-files", "--others", "--exclude-standard", "--", ROOT)
    for p in untracked.splitlines():
        out[p] = (set(), set(range(1, len(new_lines(p)) + 1)))
    return {p: v for p, v in out.items() if p.endswith(SOURCE_SUFFIXES)}


def count(rev):
    totals = {"all": [0, 0], "code": [0, 0]}
    for path, (removed, added) in sorted(changed_lines(rev).items()):
        for side, nums, lines in ((1, removed, old_lines(rev, path)),
                                  (0, added, new_lines(path))):
            labels = classify(lines)
            for k in nums:
                totals["all"][side] += 1
                if labels[k - 1] == "code":
                    totals["code"][side] += 1
    return totals


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev")
    args = ap.parse_args(argv)
    totals = count(args.rev)
    print(f"{'lines':<28}{'added':>8}{'removed':>9}{'net':>8}")
    for key, label in (("all", "all"), ("code", "non-blank, non-comment")):
        a, r = totals[key]
        print(f"{label:<28}{a:>8}{r:>9}{a - r:>+8}")


if __name__ == "__main__":
    main(sys.argv[1:])
