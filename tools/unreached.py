#!/usr/bin/env python3
"""List the public members of src/main that no other src/main line names.

Usage: python3 tools/unreached.py [src/main]

A member is a `def`, `val`, `class`, `case class`, `object` or `trait`
declared at the top level or directly inside a top-level object or class
(indent <= 2), without `private`. Comments are stripped before matching,
so a name that only a doc comment mentions still counts as unreferenced.
Each row is a candidate: a main (Bench, Verify, ...) or a framework
override is reached from outside src/main, everything else needs a gate
entry, a cli verb or a stream == batch law to stay (ROADMAP item 7).
"""
import os
import re
import sys


def strip_comments(text):
    text = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), text, flags=re.S)
    return re.sub(r"//[^\n]*", "", text)


DECL = re.compile(r"^([ \t]*)(?:(?:override|final|implicit|lazy|sealed|abstract)\s+)*"
                  r"(def|val|class|case class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")


def main(root):
    code = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    code[p] = strip_comments(fh.read()).split("\n")
    for p, lines in sorted(code.items()):
        for i, line in enumerate(lines):
            m = DECL.match(line)
            if not m or "private" in line or len(m.group(1)) > 2:
                continue
            name = m.group(3)
            if name in ("main", "apply"):
                continue
            word = re.compile(r"\b" + re.escape(name) + r"\b")
            used = any(word.search(x) for q, ls in code.items()
                       for j, x in enumerate(ls) if not (q == p and j == i))
            if not used:
                print(f"{os.path.relpath(p, root)}:{i + 1}\t{m.group(2)} {name}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "src/main")
