#!/usr/bin/env python3
"""List main-code members that nothing outside their own declaration uses.

A member is a `def`, `val`, `var`, `object`, `class`, `trait` or `type`
declared at member indent (column 0 or 2, or 4 for the members of a
nested class) in a `src/main` Scala file outside `queries/` (the
registry, which is reached by name). It is
listed when its name has no reference, comments stripped, anywhere in
`src/main` or `perfbench/src` apart from the line that declares it.
Such a member is reached from specs only, or from nothing at all.

`main` methods, top-level objects that declare one, `override`s and
`implicit`s are skipped: they are reached from the JVM, through their
parent type and by type. Column 4 also holds the locals of top-level
methods; they list only when nothing uses them. A name shared by two
declarations counts each as a reference to the other, so overloads and
common names (`apply`, `load`) never show; nor does a name a string
literal mentions. The list errs toward missing a member, not toward
naming a used one.

With `--options` it lists parameters instead: each defaulted parameter
of a public `def` or `class` declared in a `src/main` file outside
`queries/` that no call in `src/main` or `perfbench/src` passes, by
name or by position. Calls are matched by name alone, so every
declaration sharing a name (overloads, `apply`) counts every call of
that name, and a named argument inside any `copy(...)` counts for
every parameter of that name; this list, too, errs toward missing.

Usage: python3 tools/spec_only.py [--options] [repo_root]
"""
import os
import re
import sys

DECL = re.compile(
    r"^( {0,2}| {4})(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|final|"
    r"implicit|lazy|case|sealed|abstract|override)\s+)*"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR_LIT = re.compile(r"'(\\.|[^'\\\n])'")


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
        elif CHAR_LIT.match(src, i):
            m = CHAR_LIT.match(src, i)
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


OPEN = {"(": ")", "[": "]", "{": "}"}
PARAM_DECL = re.compile(
    r"^([ \t]*)((?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|final|"
    r"implicit|case|sealed|abstract|override)\s+)*)"
    r"(def|class)\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
NAMED_ARG = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])")


def literal_end(text, i):
    """Index just past the string or char literal starting at text[i],
    or None when none starts there."""
    if text[i] == '"':
        return skip_string(text, i)
    m = CHAR_LIT.match(text, i)
    return m.end() if m else None


def skip_string(text, i):
    """Index just past the string literal starting at text[i]."""
    if text.startswith('"""', i):
        j = text.find('"""', i + 3)
        return len(text) if j < 0 else j + 3
    j = i + 1
    while j < len(text) and text[j] not in '"\n':
        j += 2 if text[j] == "\\" else 1
    return j + 1


def group(text, i):
    """For the bracket at text[i], return (inner text, index past its
    close); literals are skipped whole."""
    stack, j = [OPEN[text[i]]], i + 1
    while j < len(text) and stack:
        c = text[j]
        end = literal_end(text, j)
        if end is not None:
            j = end
            continue
        if c in OPEN:
            stack.append(OPEN[c])
        elif c == stack[-1]:
            stack.pop()
        j += 1
    return text[i + 1:j - 1], j


def split_top(inner):
    """Split at the commas outside any bracket or literal."""
    parts, depth, start, j = [], 0, 0, 0
    while j < len(inner):
        c = inner[j]
        end = literal_end(inner, j)
        if end is not None:
            j = end
            continue
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(inner[start:j])
            start = j + 1
        j += 1
    parts.append(inner[start:])
    return [p for p in parts if p.strip()]


def has_default(param):
    """True when `param` has an `=` outside brackets that is not part of
    `=>`, `==`, `<=`, `>=` or `!=`."""
    depth, j = 0, 0
    while j < len(param):
        c = param[j]
        end = literal_end(param, j)
        if end is not None:
            j = end
            continue
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif (c == "=" and depth == 0 and param[j + 1:j + 2] not in ("=", ">")
              and param[j - 1:j] not in ("=", "<", ">", "!")):
            return True
        j += 1
    return False


def arg_lists(text, j, blocks=True):
    """The bracketed groups (type args skipped) following text[j:]; a
    `{` group after the first counts as a block argument when `blocks`."""
    lists = []
    while True:
        k = j
        while k < len(text) and text[k] in " \t\n":
            k += 1
        if k < len(text) and text[k] == "[" and not lists:
            _, j = group(text, k)
            continue
        if k < len(text) and (text[k] == "(" or (text[k] == "{" and lists and blocks)):
            inner, j = group(text, k)
            lists.append((text[k], inner))
            continue
        return lists


def options(sources):
    decls = []
    for rel, text in sources.items():
        if not rel.startswith("src/main/") or "/queries/" in rel:
            continue
        for m in PARAM_DECL.finditer(text):
            mods = m.group(2)
            if "private" in mods or "protected" in mods or "override" in mods:
                continue
            lineno = text.count("\n", 0, m.start()) + 1
            for li, (_, inner) in enumerate(arg_lists(text, m.end(), False)):
                pos = 0
                for param in split_top(inner):
                    words = re.sub(r"@\w+(\([^)]*\))?", "", param).split(":")[0]
                    names = IDENT.findall(words)
                    if not names or names[-1] == "implicit":
                        continue
                    if has_default(param):
                        decls.append((rel, lineno, m.group(3), m.group(4),
                                      names[-1], li, pos))
                    pos += 1

    wanted = {d[3] for d in decls}
    positional, named, copied = {}, {}, set()
    call = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)(?=\s*[\[(])")
    for text in sources.values():
        for m in call.finditer(text):
            name = m.group(1)
            if name not in wanted and name != "copy":
                continue
            if re.search(r"\b(def|class|trait|object)\s+$", text[:m.start()][-20:]):
                continue
            for li, (kind, inner) in enumerate(arg_lists(text, m.end())):
                args = [inner] if kind == "{" else split_top(inner)
                n_pos = 0
                for a in args:
                    nm = NAMED_ARG.match(a)
                    if nm:
                        if name == "copy":
                            copied.add(nm.group(1))
                        named.setdefault(name, set()).add(nm.group(1))
                    else:
                        n_pos += 1
                key = (name, li)
                positional[key] = max(positional.get(key, 0), n_pos)

    for rel, lineno, kind, name, param, li, pos in sorted(decls):
        if (positional.get((name, li), 0) > pos or param in named.get(name, ())
                or (kind == "class" and param in copied)):
            continue
        print(f"{rel}:{lineno}: {kind} {name}({param})")


def main():
    args = [a for a in sys.argv[1:] if a != "--options"]
    root = os.path.abspath(args[0] if args else ".")
    sources = {}
    for sub in ("src/main", "perfbench/src"):
        for path in scala_files(root, sub):
            with open(path, encoding="utf-8") as fh:
                sources[os.path.relpath(path, root)] = strip_comments(fh.read())
    if "--options" in sys.argv[1:]:
        options(sources)
        return

    counts = {}
    decls = []
    for rel, text in sources.items():
        has_main = re.search(r"\bdef main\(", text) is not None
        for lineno, line in enumerate(text.split("\n"), 1):
            for name in IDENT.findall(line):
                counts[name] = counts.get(name, 0) + 1
            m = DECL.match(line)
            if (m and rel.startswith("src/main/") and "/queries/" not in rel
                    and m.group(3) != "main"
                    and not re.search(r"\b(override|implicit)\b", line[:m.start(2)])
                    and not (has_main and m.group(1) == "" and m.group(2) == "object")):
                decls.append((rel, lineno, m.group(2), m.group(3), line))

    for rel, lineno, kind, name, line in sorted(decls):
        if counts.get(name, 0) <= IDENT.findall(line).count(name):
            print(f"{rel}:{lineno}: {kind} {name}")


if __name__ == "__main__":
    main()
