#!/usr/bin/env python3
"""Count Scala code lines: lines that are neither blank nor comment-only.

A line is a code line when any non-whitespace character on it lies
outside a comment. Comments are `//` to end of line and `/* ... */`
blocks (scaladoc included; Scala block comments nest). Comment markers
inside string literals ("...", \"\"\"...\"\"\") and character literals
do not count as comments.

Usage: python3 tools/loc.py [path ...]   (default: src/main)
Each path is a .scala file or a directory searched recursively. Prints
one `<code lines>  <file>` row per file, sorted by path, then the total.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    count = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
            elif in_str == '"':
                has_code = True
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                in_str = '"""'
                has_code = True
                i += 3
            elif line[i] == '"':
                in_str = '"'
                has_code = True
                i += 1
            elif line.startswith("'\\", i):
                # an escaped character literal such as '\n' or 'A'
                has_code = True
                close = line.find("'", i + 2)
                i = close + 1 if close >= 0 else n
            elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
                # a plain character literal such as '"' or '/'
                has_code = True
                i += 3
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if in_str == '"':
            in_str = None  # a single-quoted string never spans lines
        if has_code:
            count += 1
    return count


def scala_files(path):
    if os.path.isfile(path):
        return [path] if path.endswith(".scala") else []
    found = []
    for root, _, files in os.walk(path):
        found.extend(os.path.join(root, f) for f in files if f.endswith(".scala"))
    return found


def main(argv):
    paths = argv[1:] or ["src/main"]
    files = sorted({f for p in paths for f in scala_files(p)})
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            c = code_lines(fh.read())
        total += c
        print(f"{c:7d}  {f}")
    print(f"{total:7d}  total ({len(files)} files)")


if __name__ == "__main__":
    main(sys.argv)
