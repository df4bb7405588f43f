#!/usr/bin/env python3
"""Line counts for the main Scala sources.

Prints the raw line count and the code-only count (lines that are
neither blank nor comment-only) for every .scala file under a source
root, default ``src/main/scala``:

    python3 tools/loc.py                  # totals
    python3 tools/loc.py --files          # plus one line per file
    python3 tools/loc.py src/main/scala/graft/ops

A line is code when any non-blank character on it sits outside a
comment: ``//`` line comments and (nested) ``/* */`` block comments,
including scaladoc, are comments; string and character literals are
code, so a ``//`` inside ``"s3://..."`` does not start a comment.
"""

import argparse
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry at least one code character."""
    n = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        has_code = False
        i = 0
        while i < len(line):
            c = line[i]
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
                continue
            if in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_str = '"""'
                has_code = True
                i += 3
                continue
            if c == '"':
                in_str = '"'
                has_code = True
                i += 1
                continue
            if c == "'":
                # char literal: 'x', '\n' or 'A'; a lone quote is
                # ordinary code
                if line.startswith("\\", i + 1):
                    end = line.find("'", i + 3, i + 8)
                else:
                    end = i + 2 if line[i + 2:i + 3] == "'" else -1
                if end > 0:
                    has_code = True
                    i = end + 1
                    continue
            if not c.isspace():
                has_code = True
            i += 1
        if in_str == '"':
            in_str = None  # single-line strings never span lines
        if has_code:
            n += 1
    return n


def scala_files(root):
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("root", nargs="?", default="src/main/scala")
    ap.add_argument("--files", action="store_true",
                    help="also print raw and code-only counts per file")
    args = ap.parse_args()
    if not os.path.isdir(args.root):
        sys.exit(f"not a directory: {args.root}")
    raw_total = code_total = 0
    for path in sorted(scala_files(args.root)):
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        raw = text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        code = code_lines(text)
        raw_total += raw
        code_total += code
        if args.files:
            print(f"{raw:7d} {code:7d}  {path}")
    print(f"raw {raw_total}  code {code_total}  ({args.root})")


if __name__ == "__main__":
    main()
