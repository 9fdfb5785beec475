#!/usr/bin/env python3
"""Line counts for the Scala sources: total lines and code lines.

A code line is a line with anything left after blank space, `//` line
comments and `/* ... */` block comments (scaladoc included) are removed.

    python3 tools/loc.py                      # src/main and src/test
    python3 tools/loc.py src/main/scala/graft/sources src/main/scala/graft/streaming

Run it from the repository root (or pass paths relative to it).
"""
import os
import sys


def count(path):
    """(total, code) lines of one Scala file."""
    total = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            total += 1
            rest, i, seen = line, 0, False
            while i < len(rest):
                if in_block:
                    end = rest.find("*/", i)
                    if end < 0:
                        break
                    in_block, i = False, end + 2
                elif rest.startswith("//", i):
                    break
                elif rest.startswith("/*", i):
                    in_block, i = True, i + 2
                elif rest[i] == '"':
                    # a string literal is code; skip it whole so a "//"
                    # inside it is not read as a comment
                    seen = True
                    end = rest.find('"', i + 1)
                    i = len(rest) if end < 0 else end + 1
                else:
                    seen = seen or not rest[i].isspace()
                    i += 1
            code += seen
    return total, code


def tree(root):
    total = code = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".scala"):
                t, c = count(os.path.join(d, n))
                total, code, files = total + t, code + c, files + 1
    return files, total, code


def main(paths):
    print(f"{'path':48} {'files':>6} {'total':>8} {'code':>8}")
    for p in paths or ["src/main", "src/test"]:
        files, total, code = tree(p)
        print(f"{p:48} {files:6d} {total:8d} {code:8d}")


if __name__ == "__main__":
    main(sys.argv[1:])
