#!/usr/bin/env python3
"""Code-line counter: Scala lines that hold code, with blank lines and
comment-only lines (`//` line comments, `/* */` and scaladoc blocks, nested
blocks included) removed. A line with code and a trailing comment counts;
comment markers inside string literals (plain and triple-quoted) are text,
not comments.

Prints one `<count> <path>` line for src/main/scala, src/test/scala and
each package directory under them (graft, graft/ops, ...; a package's
count covers its own files, not its subpackages).

Usage: python3 tools/loc.py [repo-root]   (default: the current directory)
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry at least one code character."""
    count = 0
    depth = 0           # nesting depth of /* */ comments
    in_str = None       # None, '"' or '"""'
    has_code = False
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif in_str == '"""':
            has_code = has_code or not c.isspace()
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                in_str = None
                i = j
            else:
                i += 1
        elif in_str == '"':
            has_code = True
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    in_str = None
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            has_code = True
            in_str = '"""'
            i += 3
        elif c == '"':
            has_code = True
            in_str = '"'
            i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal ('"', '\'' ...), never a string opener
            has_code = True
            i = text.index("'", i + 2 + (text[i + 1] == "\\")) + 1
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return count + has_code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    for tree in ("src/main/scala", "src/test/scala"):
        per_dir = {}
        for d, _, files in os.walk(os.path.join(root, tree)):
            for f in files:
                if f.endswith(".scala"):
                    with open(os.path.join(d, f), encoding="utf-8") as fh:
                        rel = os.path.relpath(d, os.path.join(root, tree))
                        per_dir[rel] = per_dir.get(rel, 0) + code_lines(fh.read())
        print(f"{sum(per_dir.values())} {tree}")
        for rel in sorted(per_dir):
            print(f"{per_dir[rel]} {tree}/{rel}")


if __name__ == "__main__":
    main()
