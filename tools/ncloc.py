#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the Scala sources.

A line counts when anything other than whitespace remains after removing
`//` line comments and `/* ... */` block comments (scaladoc included).
Comment markers inside string literals ("...", triple-quoted, char
literals) are not comments.

Usage: tools/ncloc.py [root]   # default root: src/main/scala

Prints one line per package (source directory), then the total.
"""
import collections
import os
import sys


def code_lines(text):
    """Yield, per source line, whether code remains once comments go."""
    i, n = 0, len(text)
    depth = 0           # block-comment nesting (Scala nests them)
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            yield has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith('"""', i):
            # raw string: may span lines; every spanned line is code
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':   # """...""""" closes late
                end += 1
            for _ in range(text.count("\n", i, end)):
                yield True
            has_code, i = True, end
        elif c == '"':
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            has_code, i = True, i + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal ('x', '\n', '\u0001'); a lone ' is a symbol
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            has_code, i = True, (n if j < 0 else j + 1)
        else:
            if not c.isspace():
                has_code = True
            i += 1
    if has_code:
        yield True


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    per_pkg = collections.Counter()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    pkg = os.path.relpath(d, root).replace(os.sep, ".")
                    per_pkg[pkg] += sum(code_lines(fh.read()))
    for pkg in sorted(per_pkg):
        print(f"{per_pkg[pkg]:8d}  {pkg}")
    print(f"{sum(per_pkg.values()):8d}  total")


if __name__ == "__main__":
    main()
