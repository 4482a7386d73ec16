#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that are not comments.

Usage: python3 tools/loc.py <file.scala> [<file.scala> ...]

Prints `<code> <total> <path>` per file and a final total line. A line is
a comment when, after stripping leading whitespace, it starts with `//`,
or when it lies inside a `/* ... */` block (scaladoc included) and holds
no code outside that block. A line that closes a block and then carries
code (`*/ val x = 1`) counts as code, as does code before an opening
`/*` on the same line. String literals are not parsed: a `/*` inside a
string opens a block, which this repository's sources do not contain.

This is the count used for line-count claims, since deleting a comment
is not a reduction of the program. A path that does not exist counts as
0 lines and is marked `(missing)`, so one file list compares a tree
with a file against a tree where it was deleted.
"""
import sys


def code_lines(text):
    code = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        has_code = False
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith("//"):
                line = ""
            else:
                start = line.find("/*")
                if start < 0:
                    has_code = True
                    line = ""
                else:
                    if line[:start].strip():
                        has_code = True
                    in_block = True
                    line = line[start + 2:]
        if has_code:
            code += 1
    return code


def main(paths):
    if not paths:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    total_code = total_lines = 0
    for p in paths:
        try:
            with open(p, encoding="utf-8") as f:
                text = f.read()
        except FileNotFoundError:
            print(f"{0:6d} {0:6d} {p} (missing)")
            continue
        c, n = code_lines(text), len(text.splitlines())
        total_code += c
        total_lines += n
        print(f"{c:6d} {n:6d} {p}")
    print(f"{total_code:6d} {total_lines:6d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
