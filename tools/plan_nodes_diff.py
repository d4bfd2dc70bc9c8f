#!/usr/bin/env python3
"""Per-entry physical-plan node lists of two `graft.Plans` dumps, diffed.

Usage: python3 tools/plan_nodes_diff.py <before_plans.txt> <after_plans.txt>

Reads the operator tree of each entry's `explain("formatted")` (the
`+- Node (n)` lines, not the numbered detail section) and prints, for
every entry whose node list differs, the nodes removed (-) and added (+)
in tree order. Prints nothing when every entry's node list is identical;
entries present in only one dump are listed as such.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^================ (\S+) ================$")
NODE = re.compile(r"^[\s:+\-|*]*([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$")


def node_lists(path):
    out, cur = {}, None
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = out.setdefault(m.group(1), [])
                continue
            if cur is None or line.startswith("("):
                continue
            m = NODE.match(line)
            if m:
                cur.append(m.group(1))
    return out


def main():
    before, after = node_lists(sys.argv[1]), node_lists(sys.argv[2])
    for name in sorted(set(before) | set(after)):
        if name not in after or name not in before:
            print(f"{name}: only in {'before' if name in before else 'after'}")
            continue
        a, b = before[name], after[name]
        if a != b:
            print(f"{name}: {len(a)} -> {len(b)} nodes")
            for d in difflib.ndiff(a, b):
                if d[0] in "+-":
                    print(f"    {d}")


if __name__ == "__main__":
    main()
