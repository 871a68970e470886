#!/usr/bin/env python3
"""Count physical and code lines of Scala sources.

Usage: python3 tools/loc.py [--per-file] [PATH ...]

PATH is a .scala file or a directory searched recursively for .scala files
(default: src/main/scala). Prints `<physical> <code> <path>` for each PATH
(preceded by one line per file with --per-file), then, given more than one
PATH, `<physical> <code> total` over the files of all of them, each file
counted once.

A code line is a line that is none of:
  - blank;
  - a `//` comment line;
  - a line of a block that opens with `/*` or `/**` at the start of a line,
    through the line that closes it with `*/`;
  - a line starting with `*` (a scaladoc continuation line). This also
    drops the few code lines that begin with a `*` operator (27 in
    src/main/scala when the rule was written down); the rule is kept as is
    so that counts stay comparable across changes.
"""
import os
import sys


def count(path):
    physical = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            physical += 1
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
                continue
            if not s or s.startswith("//") or s.startswith("*"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            code += 1
    return physical, code


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for d, _, names in os.walk(path):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def main(argv):
    per_file = "--per-file" in argv
    paths = [a for a in argv if a != "--per-file"] or ["src/main/scala"]
    counted = {}
    for p in paths:
        path_p = path_c = 0
        for f in scala_files(p):
            fp, fc = count(f)
            path_p += fp
            path_c += fc
            counted[os.path.realpath(f)] = (fp, fc)
            if per_file:
                print(f"{fp} {fc} {f}")
        print(f"{path_p} {path_c} {p}")
    if len(paths) > 1:
        total_p = sum(fp for fp, _ in counted.values())
        total_c = sum(fc for _, fc in counted.values())
        print(f"{total_p} {total_c} total")


if __name__ == "__main__":
    main(sys.argv[1:])
