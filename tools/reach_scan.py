#!/usr/bin/env python3
"""List public library names that only tests reach.

For each public `def`, `class`, `object` or `trait` declared under
src/main/scala, the scan looks for the name as a whole word in every
other Scala file of the repo (src/main, src/test, perfbench/src). A name
is listed when it appears outside its own file, and every such file is
under src/test: the tests call it, but no query, pipeline or benchmark
does.

This is a name-match heuristic, not a call graph. A name that a
library file merely mentions (in a comment, or as an unrelated member
of the same name) counts as reached, and overrides, private members
and names used only inside their own file are not considered. Read the
list as candidates to prove or delete, not as a verdict.

Usage:
    python3 tools/reach_scan.py [repo_root]

Prints one line per candidate, `path:line kind name <- test files`,
and a count line last.
"""
import os
import re
import sys

DECL = re.compile(
    r"^\s*((?:(?:final|implicit|case|sealed|abstract|lazy|override|"
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)"
    r"(def|class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")


def scala_files(root, rel):
    for dirpath, _, names in os.walk(os.path.join(root, rel)):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.relpath(os.path.join(dirpath, name), root)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_files = list(scala_files(root, "src/main/scala"))
    others = main_files + list(scala_files(root, "src/test/scala")) + \
        list(scala_files(root, "perfbench/src"))
    text = {}
    for f in others:
        with open(os.path.join(root, f), encoding="utf-8") as fh:
            text[f] = fh.read()

    hits = []
    for f in main_files:
        for lineno, line in enumerate(text[f].splitlines(), 1):
            m = DECL.match(line)
            if not m or "private" in m.group(1) or "protected" in m.group(1) \
                    or "override" in m.group(1):
                continue
            kind, name = m.group(2), m.group(3)
            word = re.compile(r"\b%s\b" % re.escape(name))
            users = [g for g in others if g != f and word.search(text[g])]
            if users and all(u.startswith("src/test/") for u in users):
                tests = sorted(os.path.basename(u)[:-len(".scala")] for u in users)
                hits.append("%s:%d %s %s <- %s" % (f, lineno, kind, name, ", ".join(tests)))
    for h in hits:
        print(h)
    print("%d public names reached only from src/test" % len(hits))


if __name__ == "__main__":
    main()
