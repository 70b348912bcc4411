#!/usr/bin/env python3
"""Code-line counter for the Scala sources.

A code line is a non-blank line that is neither a `//` comment line nor
inside a `/* ... */` block (Scaladoc included). Lines are classified by
how they start: text after a block's closing `*/` on the same line
counts as code, and a comment opened after code on a line is ignored.

Usage: python3 tools/loc.py [repo root]

Prints the count for src/main/scala in total, for
src/main/scala/graft/sources/ and for LakeSql.scala.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            rest = line.strip()
            code = False
            while rest:
                if in_block:
                    end = rest.find("*/")
                    if end < 0:
                        rest = ""
                    else:
                        in_block = False
                        rest = rest[end + 2:].strip()
                elif rest.startswith("//"):
                    rest = ""
                elif rest.startswith("/*"):
                    in_block = True
                    rest = rest[2:]
                else:
                    code = True
                    rest = ""
            n += code
    return n


def total(root):
    n = 0
    for d, _, files in os.walk(root):
        n += sum(code_lines(os.path.join(d, f))
                 for f in files if f.endswith(".scala"))
    return n


def main(repo):
    main_dir = os.path.join(repo, "src", "main", "scala")
    print(f"src/main/scala {total(main_dir)}")
    print(f"src/main/scala/graft/sources/ "
          f"{total(os.path.join(main_dir, 'graft', 'sources'))}")
    print(f"LakeSql.scala "
          f"{code_lines(os.path.join(main_dir, 'graft', 'LakeSql.scala'))}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
