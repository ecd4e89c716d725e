#!/usr/bin/env python3
"""Test-only API finder: public `def`s that no other source file names.

A def is public when it is a member of a class, object or trait (not a
local def, not a member of an anonymous class) and neither it nor any
enclosing template is `private`/`protected`. `override`s are left out
(callers reach them through the supertype), and so are `apply`,
`unapply`, `update` and `main`, which are called without their name.

A def is listed when no OTHER .scala file under [dir] names it as a whole
word in code (comments and string literals do not count; see loc.py).
The match is by name only, so a def that shares its name with anything
used in another file counts as referenced, and the list is a lower bound.
Beside each def: how many files under src/test and under perfbench/src
name it.

Usage: python3 tools/testonly.py [dir]   (default: src/main; run from the
checkout root). Prints "tests perfbench path:line name" per def, then a
summary line.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import scan  # noqa: E402

SKIP = {"apply", "unapply", "update", "main"}
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
# the keywords that decide what a `{` opens: the last one before it wins
OPENER = re.compile(r"\b(class|object|trait|new|def|val|var|if|else|for|while|match|try|"
                    r"catch|finally|do|yield|return)\b|=>|=")
# the modifiers and annotations right before a `def`, `class`, `object` or `trait`
MODIFIERS = re.compile(r"(?:(?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|"
                       r"inline|lazy|case|sealed|abstract|@[\w.]+)\s+)*$")


def code_of(path):
    with open(path, encoding="utf-8") as f:
        return [code for _, code in scan(f.read())]


def sources(root):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".scala"):
                yield os.path.join(dirpath, name)


def drop_parens(s):
    """`s` without its parenthesised groups (parameter lists, arguments)."""
    out, depth = [], 0
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif not depth:
            out.append(c)
    return "".join(out)


def modifiers(head):
    """The modifier words that end `head` (the text before a keyword)."""
    return MODIFIERS.search(drop_parens(head)).group(0).split()


def public_defs(lines):
    """(line number, name) of each public member def in one file's code."""
    found = []
    stack = []        # per open brace: True when it opens a public template body
    stmt = []         # code since the last brace or semicolon
    for no, line in enumerate(lines, 1):
        for m in DEF.finditer(line):
            mods = modifiers("".join(stmt) + line[:m.start()])
            if (stack and all(stack) and m.group(1) not in SKIP
                    and not any(w.startswith(("private", "protected", "override")) for w in mods)):
                found.append((no, m.group(1)))
        for c in line + "\n":
            if c == "{":
                head = drop_parens("".join(stmt))
                last = None
                for last in OPENER.finditer(head):
                    pass
                public = (last is not None and last.group(0) in ("class", "object", "trait")
                          and not any(w.startswith(("private", "protected"))
                                      for w in modifiers(head[:last.start()])))
                stack.append(public and all(stack))
                stmt = []
            elif c == "}":
                if stack:
                    stack.pop()
                stmt = []
            elif c == ";":
                stmt = []
            else:
                stmt.append(c)
    return found


def names_in(paths):
    """path -> the set of words in its code."""
    return {p: set(WORD.findall("\n".join(code_of(p)))) for p in paths}


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    main_words = names_in(sources(root))
    test_words = list(names_in(sources("src/test")).values())
    bench_words = list(names_in(sources("perfbench/src")).values())
    total, listed, by_tests, by_bench = 0, 0, 0, 0
    for path in main_words:
        for no, name in public_defs(code_of(path)):
            total += 1
            if any(name in words for p, words in main_words.items() if p != path):
                continue
            tests = sum(name in w for w in test_words)
            bench = sum(name in w for w in bench_words)
            listed += 1
            by_tests += tests > 0 and bench == 0
            by_bench += bench > 0
            print(f"{tests:5d} {bench:5d} {path}:{no} {name}")
    print(f"{listed} of {total} public defs are named by no other file under {root}: "
          f"{by_tests} named only by tests, {by_bench} by perfbench, "
          f"{listed - by_tests - by_bench} by neither")


if __name__ == "__main__":
    main(sys.argv)
