#!/usr/bin/env python3
"""Code-line counter for the Scala sources, and an unreferenced-name scan.

Usage:
  python3 tools/code_lines.py [root]         # code lines, total and per file
  python3 tools/code_lines.py --unreferenced # defs/vals nothing else names

A code line is a non-blank line that is not a `//` line and does not lie
wholly inside a `/* ... */` comment (scaladoc included). `root` defaults to
src/main/scala.

`--unreferenced` lists the `def`/`val` names declared in src/main/scala that
appear nowhere in src/main or perfbench/ besides their own definition (the
identifier occurs exactly once). Overloads, names shared by two scopes and
reflective use hide a name from this scan, so treat its output as leads.
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scala_files(root):
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def code_lines(text):
    """Lines of `text` that carry code outside comments."""
    out = []
    in_block = False
    for line in text.splitlines():
        rest, code = line, ""
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    rest, in_block = rest[end + 2:], False
            else:
                start = rest.find("/*")
                if start < 0:
                    code, rest = code + rest, ""
                else:
                    code, rest, in_block = code + rest[:start], rest[start + 2:], True
        s = code.strip()
        if s and not s.startswith("//"):
            out.append(line)
    return out


def count(root):
    per_file = {}
    for f in scala_files(root):
        with open(f, encoding="utf-8") as fh:
            per_file[os.path.relpath(f, root)] = len(code_lines(fh.read()))
    return per_file


DECL = re.compile(r"\b(?:def|val|lazy val)\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def unreferenced():
    main = os.path.join(REPO, "src", "main", "scala")
    sources = list(scala_files(main)) + list(
        scala_files(os.path.join(REPO, "perfbench")))
    uses = {}
    decls = []
    for f in sources:
        with open(f, encoding="utf-8") as fh:
            lines = code_lines(fh.read())
        for line in lines:
            for ident in IDENT.findall(line):
                uses[ident] = uses.get(ident, 0) + 1
            if f.startswith(main):
                for name in DECL.findall(line):
                    decls.append((os.path.relpath(f, main), name))
    seen = set()
    for rel, name in decls:
        if uses.get(name, 0) <= 1 and (rel, name) not in seen:
            seen.add((rel, name))
            print(f"{rel}\t{name}")


def main(argv):
    if argv[1:] == ["--unreferenced"]:
        unreferenced()
        return 0
    root = argv[1] if len(argv) > 1 else os.path.join(REPO, "src", "main", "scala")
    per_file = count(root)
    for rel in sorted(per_file):
        print(f"{per_file[rel]:7d}  {rel}")
    print(f"{sum(per_file.values()):7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
