#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala code under a directory.

Usage: python3 tools/loc.py <dir>

A line counts when it holds at least one character of code outside
comments: blank lines, `//` line comments and `/* ... */` block comments
(scaladoc included, nested blocks too) do not count. Comment markers
inside string and character literals are code. Prints the total.
"""
import os
import sys


def code_lines(text: str) -> int:
    n = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    line_has_code = False
    i = 0
    while i < len(text):
        c = text[i]
        nxt = text[i:i + 2]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
        elif depth:
            if nxt == "/*":
                depth += 1
                i += 2
            elif nxt == "*/":
                depth -= 1
                i += 2
            else:
                i += 1
        elif in_str == '"""':
            line_has_code = line_has_code or not c.isspace()
            if text.startswith('"""', i):
                # a closing run may be longer than three quotes
                while text.startswith('""""', i):
                    i += 1
                in_str = None
                i += 3
            else:
                i += 1
        elif in_str == '"':
            line_has_code = True
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    in_str = None
                i += 1
        elif nxt == "//":
            while i < len(text) and text[i] != "\n":
                i += 1
        elif nxt == "/*":
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            line_has_code = True
            in_str = '"""'
            i += 3
        elif c == '"':
            line_has_code = True
            in_str = '"'
            i += 1
        elif c == "'" and text[i + 1:i + 2] == "\\":
            # escaped char literal: '\n', '\\', 'A'
            line_has_code = True
            j = text.find("'", i + 3)
            i = j + 1 if j != -1 else i + 1
        elif c == "'" and text[i + 2:i + 3] == "'":
            line_has_code = True   # plain char literal: 'x', '"'
            i += 3
        else:
            line_has_code = line_has_code or not c.isspace()
            i += 1
    return n + line_has_code


def main(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    print(total)
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
