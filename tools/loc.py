#!/usr/bin/env python3
"""Code-line counter for Scala sources: non-blank lines outside comments.

A line counts when any character of it lies outside a `//` or `/* */`
comment (block comments nest, as in Scala) and is not whitespace.
Comment markers inside string and character literals are text, not
comments; triple-quoted strings may span lines.

Usage: python3 tools/loc.py [dir]   (default: src/main)
Prints one "count path" line per .scala file, then "count total".
"""
import os
import sys


def scan(text):
    """Yield (is_code, code) per line: whether the line counts as code, and
    its text with comments removed and string literal contents dropped
    (the quotes stay)."""
    depth = 0        # open /* */ comments
    in_str = None    # None, '"' or '"""'
    for line in text.splitlines():
        code = False
        out = []
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str == '"""':
                code = True
                if line.startswith('"""', i):
                    # a closing run may be longer than three quotes
                    while line.startswith('""""', i):
                        i += 1
                    in_str = None
                    out.append('"""')
                    i += 3
                else:
                    i += 1
                continue
            if in_str == '"':
                code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    out.append(c)
                    i += 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if not c.isspace():
                code = True
            if line.startswith('"""', i):
                in_str = '"""'
                out.append('"""')
                i += 3
            elif c == '"':
                in_str = '"'
                out.append(c)
                i += 1
            elif c == "'" and (line.startswith("\\", i + 1) or line[i + 2:i + 3] == "'"):
                # a character literal: skip to its closing quote
                j = line.find("'", i + 2 + (line[i + 1:i + 2] == "\\"))
                i = n if j < 0 else j + 1
                out.append("' '")
            else:
                out.append(c)
                i += 1
        if in_str == '"':
            in_str = None  # an unclosed single-line string ends here
            out.append('"')
        yield code, "".join(out)


def code_lines(text):
    return sum(code for code, _ in scan(text))


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    n = code_lines(f.read())
                total += n
                print(f"{n:6d} {path}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv)
