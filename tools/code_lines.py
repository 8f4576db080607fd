#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that hold something
outside `//` line comments and `/* */` block comments (string literals are
respected, so a "//" inside a string does not start a comment).

    python3 tools/code_lines.py FILE...        # per-file counts, then the total
    python3 tools/code_lines.py --total FILE...  # the total only
    python3 tools/code_lines.py --since REV [--total] [PATH...]
        # net change in code lines against git revision REV, per changed
        # file and in total. PATHs are Scala files or directories
        # (default: src/main); a directory covers every .scala file under
        # it at REV and now, so deleted and added files count too. The old
        # side is read with `git show REV:PATH`.
"""
import os
import subprocess
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


def scala_files(paths, rev=None):
    """The .scala files under `paths` in the working tree, or at `rev`."""
    if rev is not None:
        out = subprocess.run(["git", "ls-tree", "-r", "--name-only", "--full-name",
                              rev, "--"] + paths, capture_output=True, text=True,
                             check=True).stdout
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, check=True).stdout.strip()
        return {os.path.relpath(os.path.join(top, f)) for f in out.split()
                if f.endswith(".scala")}
    found = set()
    for p in paths:
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                found.update(os.path.normpath(os.path.join(d, n))
                             for n in names if n.endswith(".scala"))
        elif os.path.isfile(p):
            found.add(os.path.normpath(p))
    return found


def since(rev, paths, total_only):
    files = sorted(scala_files(paths) | scala_files(paths, rev))
    net = 0
    for f in files:
        old = subprocess.run(["git", "show", f"{rev}:./{f}"], capture_output=True,
                             text=True)
        before = code_lines(old.stdout) if old.returncode == 0 else 0
        after = 0
        if os.path.isfile(f):
            with open(f, encoding="utf-8") as fh:
                after = code_lines(fh.read())
        if before != after and not total_only:
            print(f"{after - before:+7d} {f} ({before} -> {after})")
        net += after - before
    print(f"{net:+d}" if total_only else f"{net:+7d} net")


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a != "--total"]
    if args and args[0] == "--since":
        if len(args) < 2:
            sys.exit("usage: code_lines.py --since REV [--total] [PATH...]")
        since(args[1], args[2:] or ["src/main"], total_only)
        return
    total = 0
    for f in args:
        with open(f, encoding="utf-8") as fh:
            c = code_lines(fh.read())
        total += c
        if not total_only:
            print(f"{c:6d} {f}")
    print(total if total_only else f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
