#!/usr/bin/env python3
"""Lines added and removed under src/main between two git revisions,
split into code, comment and blank lines.

  python3 tools/loc_split.py BASE [HEAD]

HEAD defaults to the working tree (tracked changes plus untracked files
under src/main). Each file is classified whole on both sides, so a line
inside a `/* ... */` or scaladoc block counts as comment even when the
diff shows only that line. A line is:

  blank    whitespace only;
  comment  no code, only `//`, `/* */` (nested, as Scala allows) or
           scaladoc text;
  code     anything else, including a line of code with a trailing
           comment and every line of a triple-quoted string.
"""
import re
import subprocess
import sys
from pathlib import Path

ROOT = "src/main"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def classify(text):
    """One of 'code', 'comment', 'blank' per line of `text`."""
    kinds = []
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    for line in text.split("\n"):
        code = comment = False
        i, n = 0, len(line)
        while i < n:
            c, two = line[i], line[i:i + 2]
            if in_triple:
                code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif depth:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    if not c.isspace():
                        comment = True
                    i += 1
            elif two == "//":
                comment = True
                break
            elif two == "/*":
                comment = True
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code = in_triple = True
                i += 3
            elif c == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'])'",
                                      line[i:]):
                code = True
                i = line.index("'", i + 2) + 1
            else:
                if not c.isspace():
                    code = True
                i += 1
        kinds.append("code" if code else "comment" if comment else "blank")
    return kinds


def content(rev, path):
    """The file at `rev` (None = working tree); '' when absent."""
    if rev is None:
        p = Path(path)
        return p.read_text() if p.exists() else ""
    try:
        return git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return ""


HUNK = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    base = sys.argv[1]
    head = sys.argv[2] if len(sys.argv) == 3 else None
    revs = [base] + ([head] if head else [])
    files = git("diff", "--no-renames", "--name-only", *revs, "--",
                ROOT).split()
    if head is None:
        files += git("ls-files", "--others", "--exclude-standard",
                     "--", ROOT).split()
    tally = {side: {"code": 0, "comment": 0, "blank": 0}
             for side in ("added", "removed")}
    for f in sorted(set(files)):
        if not f.endswith((".scala", ".java")):
            continue
        old_text, new_text = content(base, f), content(head, f)
        old, new = classify(old_text), classify(new_text)
        if not old_text or not new_text:  # a whole file added or deleted
            side, kinds, text = (("added", new, new_text) if new_text
                                 else ("removed", old, old_text))
            for k in kinds[:len(text.splitlines())]:
                tally[side][k] += 1
            continue
        diff = git("diff", "--no-renames", "-U0", "--no-color", *revs,
                   "--", f)
        for line in diff.splitlines():
            m = HUNK.match(line)
            if not m:
                continue
            o0, oc = int(m[1]), int(m[2] if m[2] is not None else 1)
            n0, nc = int(m[3]), int(m[4] if m[4] is not None else 1)
            for i in range(o0, o0 + oc):
                tally["removed"][old[i - 1]] += 1
            for i in range(n0, n0 + nc):
                tally["added"][new[i - 1]] += 1
    add, rem = tally["added"], tally["removed"]
    print(f"{ROOT} {base}..{head or 'working tree'}")
    print(f"{'':8} {'added':>7} {'removed':>8} {'net':>7}")
    for k in ("code", "comment", "blank"):
        print(f"{k:8} {add[k]:>+7} {-rem[k]:>+8} {add[k] - rem[k]:>+7}")
    ta, tr = sum(add.values()), sum(rem.values())
    print(f"{'total':8} {ta:>+7} {-tr:>+8} {ta - tr:>+7}")


if __name__ == "__main__":
    main()
