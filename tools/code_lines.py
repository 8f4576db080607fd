#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that hold something
outside `//` line comments and `/* */` block comments (string literals are
respected, so a "//" inside a string does not start a comment).

    python3 tools/code_lines.py FILE...        # per-file counts, then the total
    python3 tools/code_lines.py --total FILE...  # the total only
"""
import sys


def code_lines(text):
    n = 0
    in_block = 0
    for line in text.splitlines():
        has_code = False
        i, in_str = 0, None
        while i < len(line):
            two = line[i:i + 2]
            if in_block:
                if two == "/*":
                    in_block += 1
                    i += 2
                elif two == "*/":
                    in_block -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                if line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                elif line[i] == "\\" and in_str == '"':
                    i += 2
                else:
                    i += 1
                has_code = True
                continue
            if two == "//":
                break
            if two == "/*":
                in_block = 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
                has_code = True
                continue
            if line[i] == '"':
                in_str = '"'
                i += 1
                has_code = True
                continue
            if not line[i].isspace():
                has_code = True
            i += 1
        if in_str == '"':
            in_str = None
        if has_code:
            n += 1
    return n


def main(argv):
    total_only = "--total" in argv
    files = [a for a in argv if a != "--total"]
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            c = code_lines(fh.read())
        total += c
        if not total_only:
            print(f"{c:6d} {f}")
    print(total if total_only else f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
