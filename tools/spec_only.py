#!/usr/bin/env python3
"""List main-code members that nothing outside their own declaration uses.

A member is a `def`, `val`, `var`, `object`, `class`, `trait` or `type`
declared at member indent (column 0 or 2) in a `src/main` Scala file
outside `queries/` (the registry, which is reached by name). It is
listed when its name has no reference, comments stripped, anywhere in
`src/main` or `perfbench/src` apart from the line that declares it.
Such a member is reached from specs only, or from nothing at all.

`main` methods, top-level objects that declare one, and `override`s
are skipped: they are reached from the JVM and through their parent
type. A name shared by two declarations counts each as a reference to
the other, so overloads and common names (`apply`, `load`) never show;
nor does a name a string literal mentions. The list errs toward missing
a member, not toward naming a used one.

Usage: python3 tools/spec_only.py [repo_root]
"""
import os
import re
import sys

DECL = re.compile(
    r"^( {0,2})(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|final|"
    r"implicit|lazy|case|sealed|abstract|override)\s+)*"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_comments(src):
    """Blank out // and /* */ comments, keeping string and char literals
    and every newline, so line numbers survive."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4])
            out.append(m.group(0))
            i += len(m.group(0))
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root, sub):
    base = os.path.join(root, sub)
    for d, _, files in os.walk(base):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    sources = {}
    for sub in ("src/main", "perfbench/src"):
        for path in scala_files(root, sub):
            with open(path, encoding="utf-8") as fh:
                sources[os.path.relpath(path, root)] = strip_comments(fh.read())

    counts = {}
    decls = []
    for rel, text in sources.items():
        has_main = re.search(r"\bdef main\(", text) is not None
        for lineno, line in enumerate(text.split("\n"), 1):
            for name in IDENT.findall(line):
                counts[name] = counts.get(name, 0) + 1
            m = DECL.match(line)
            if (m and rel.startswith("src/main/") and "/queries/" not in rel
                    and m.group(3) != "main" and "override" not in line[:m.start(2)]
                    and not (has_main and m.group(1) == "" and m.group(2) == "object")):
                decls.append((rel, lineno, m.group(2), m.group(3), line))

    for rel, lineno, kind, name, line in sorted(decls):
        if counts.get(name, 0) <= IDENT.findall(line).count(name):
            print(f"{rel}:{lineno}: {kind} {name}")


if __name__ == "__main__":
    main()
