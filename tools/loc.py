#!/usr/bin/env python3
"""Line counts of the main Scala sources, the figures ROADMAP.md and
CHANGES.md quote.

usage: python3 tools/loc.py [repo_root]

Prints, for src/main/scala (default root: the checkout this script
lives in):
  - code lines: lines that are neither blank nor comment-only (a line
    with code and a trailing comment counts as code);
  - total lines, as `wc -l` counts them;
  - the same two counts per package (the directory a file sits in,
    dotted: graft, graft.functions, ...).
"""
import os
import sys


def code_lines(text):
    """Lines of Scala `text` holding something other than comments and
    whitespace. Tracks /* */ nesting (Scala block comments nest) and
    skips comment markers inside string and char literals."""
    n, depth = 0, 0
    for line in text.split("\n"):
        code, i, in_str = False, 0, None
        while i < len(line):
            two = line[i:i + 2]
            if depth:
                if two == "/*":
                    depth, i = depth + 1, i + 2
                elif two == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
                continue
            ch = line[i]
            if in_str:
                code = True
                if line.startswith(in_str, i):
                    i, in_str = i + len(in_str), None
                elif ch == "\\" and in_str != '"""':
                    i += 2
                else:
                    i += 1
                continue
            if two == "//":
                break
            if two == "/*":
                depth, i = depth + 1, i + 2
                continue
            if line.startswith('"""', i):
                in_str, i, code = '"""', i + 3, True
                continue
            if ch == '"':
                in_str, i, code = '"', i + 1, True
                continue
            if ch == "'" and i + 2 < len(line) and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # char literal such as '"' or '\t': step over it whole
                end = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i, code = (end + 1 if end > 0 else i + 1), True
                continue
            if not ch.isspace():
                code = True
            i += 1
        if in_str == '"':  # an unterminated single-line string ends here
            in_str = None
        n += code
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main", "scala")
    per = {}
    for d, _, files in os.walk(src):
        for f in files:
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            pkg = os.path.relpath(d, src).replace(os.sep, ".")
            code, total = per.get(pkg, (0, 0))
            per[pkg] = (code + code_lines(text), total + text.count("\n"))
    code = sum(c for c, _ in per.values())
    total = sum(t for _, t in per.values())
    print(f"src/main Scala: {code:,} code lines (non-blank, non-comment), {total:,} lines (wc -l)")
    print(f"{'package':<34} {'code':>7} {'wc -l':>7}")
    for pkg, (c, t) in sorted(per.items(), key=lambda kv: -kv[1][1]):
        print(f"{pkg:<34} {c:>7,} {t:>7,}")


if __name__ == "__main__":
    main()
